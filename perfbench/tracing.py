"""Measurement plumbing: spans around calls into the library, the Spark
counters behind each span, a peak-RSS sampler and host telemetry.

Spans are recorded by the benchmark around the public calls it makes; the
library itself is not instrumented. With tracing off, :meth:`Tracer.span`
only yields, so the timed runs pay nothing but a context-manager entry.

With tracing on, each span notes the DAG scheduler's next job id at entry
and exit. The benchmark is a single closed-loop client, so every job whose
id falls in that window was submitted by the call inside the span --
including jobs the library starts from its own worker threads, which do not
inherit the job group the span also sets. After the run, :meth:`finish`
reads, per span:

- job, stage and task counts, failed tasks, shuffle-write and spill bytes
  from the application status store (exact longs);
- SQL metrics of every execution whose jobs fall in the window, from the
  SQL status store's plan graphs. Those graphs already descend through
  AQE query-stage wrappers, and they include write commands whose plans
  the caller never holds. Values there are display strings (sizes to
  three or four digits, times to a millisecond below one second);
- storage blocks still pinned when the call returned.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---- host telemetry and peak RSS -------------------------------------------


def host_telemetry() -> dict:
    """/proc/loadavg, MemAvailable and CPU steal seconds since boot (time a
    hypervisor ran something else), so an outlier run can be put down to the
    host rather than the code."""
    out: dict = {}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    out["mem_available_kb"] = int(line.split()[1])
                    break
        with open("/proc/stat") as f:
            # cpu  user nice system idle iowait irq softirq steal ...
            out["steal_s"] = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        pass
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


def tree_cpu(root: int) -> tuple[int, dict]:
    """CPU clock ticks (user + system) of ``root`` and its descendants, with
    reaped children and exited threads, and the ticks of each live JIT
    compiler thread of the JVM, by (pid, tid). Steal -- time the hypervisor
    gave to other guests -- is not charged to processes, so neither grows
    when a shared host is contended."""
    total, jit = 0, {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17, counted from field 3
        total += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():  # "C1 CompilerThre", "C2 ..."
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            jit[pid, tid] = sum(int(x) for x in st[st.rindex(")") + 2 :].split()[11:13])
    return total, jit


def cpu_between(before: tuple[int, dict], after: tuple[int, dict]) -> tuple[float, float]:
    """(CPU seconds less JIT compilation, JIT compilation seconds) between
    two :func:`tree_cpu` readings."""
    tck = os.sysconf("SC_CLK_TCK")
    jit = sum(t - before[1].get(k, 0) for k, t in after[1].items())
    return (after[0] - before[0] - jit) / tck, jit / tck


class RssSampler:
    """Samples the RSS of this process tree (driver JVM and Python workers
    included) on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---- spans -------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: str | None
    t0: float = 0.0
    t1: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    pinned_blocks: int = 0
    # filled by the caller where it holds the DataFrame it acts on
    build_s: float | None = None
    plan_ms: float | None = None
    rows_out: int | None = None
    # numeric parts of layer ratios, summed per layer like the counters
    extra: dict = field(default_factory=dict)
    # {counter: predicate(node name, node description)}: sum the output rows
    # of matching plan nodes into that counter
    probes: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


_NUM = re.compile(r"^-?[\d,]+(?:\.\d+)?$")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """A SQL-metric display value ("1,024", "3.5 MiB", "12 ms", "1.2 s")
    as bytes, seconds or a plain number."""
    text = text.strip()
    if _NUM.match(text):
        return float(text.replace(",", ""))
    parts = text.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        try:
            return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
        except ValueError:
            return None
    return None


_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*)"\];?\s*$')


def plan_graph_metrics(dot: str) -> list[tuple[str, str, dict[str, float]]]:
    """(node name, node description, {metric: value}) per physical-plan node
    of a SQL execution's DOT plan graph."""
    nodes = []
    for line in dot.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        parts = [p for p in m.group(2).split("<br>") if p]
        name = re.sub(r"</?b>", "", parts[0]) if parts else ""
        metrics: dict[str, float] = {}
        i = 1
        while i < len(parts):
            p = parts[i]
            if " total (min, med, max" in p and i + 1 < len(parts):
                key = p.split(" total (min, med, max")[0]
                val = parse_metric(parts[i + 1].split(" (")[0])
                i += 2
            elif ": " in p:
                key, raw = p.rsplit(": ", 1)
                val = parse_metric(raw)
                i += 1
            else:
                i += 1
                continue
            if val is not None:
                metrics[key] = metrics.get(key, 0.0) + val
        nodes.append((name, m.group(3), metrics))
    return nodes


class Tracer:
    """Records spans around library calls; a no-op when ``enabled`` is off."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._held: list = []
        self._sc = spark.sparkContext

    def _next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())  # noqa: SLF001

    def _pinned_blocks(self) -> int:
        infos = self._sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        return sum(int(i.numCachedPartitions()) for i in infos)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, request)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(f"span-{s.sid}", name, False)
        s.job_lo = self._next_job_id()
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.job_hi = self._next_job_id()
            s.pinned_blocks = self._pinned_blocks()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"span-{parent.sid}", parent.name, False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df):
        """In traced runs, compute a lazy layer output before it is handed
        on, so its time is charged to the layer that produced it."""
        if not self.enabled:
            return df
        df = df.localCheckpoint(eager=True)
        self._held.append(df)
        return df

    def release(self) -> None:
        """Free the blocks of everything :meth:`materialize` pinned."""
        from auto_vectordb_spark.session import release_materialized

        for df in self._held:
            release_materialized(df)
        self._held.clear()

    @staticmethod
    def collect(span: Span | None, df) -> list:
        """Collect a DataFrame the caller built inside ``span``, recording
        its construction seconds, planning milliseconds and rows."""
        if span is None:
            return df.collect()
        span.build_s = time.perf_counter() - span.t0
        rows = df.collect()
        phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
        span.plan_ms = 0.0
        for key in ("analysis", "optimization", "planning"):
            p = phases.get(key)  # a Scala Option
            if p.isDefined():
                span.plan_ms += float(p.get().durationMs())
        span.rows_out = len(rows)
        return rows

    # ---- after the run -----------------------------------------------------

    def finish(self) -> None:
        """Attach Spark counters to every span (self values: jobs of nested
        spans are charged to the nested span)."""
        if not self.spans:
            return
        jsc = self._sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        owner: dict[int, Span] = {}
        for s in sorted(self.spans, key=lambda s: s.t0):
            for j in range(s.job_lo, s.job_hi):
                owner[j] = s  # later (inner) spans overwrite their parents
        for s in self.spans:
            s.counters = dict.fromkeys(
                ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
                 "spill_bytes", "broadcast_bytes", "python_s"), 0.0)
        seen_stages: dict[int, set] = {}
        for jid, s in owner.items():
            try:
                job = store.job(jid)
            except Py4JJavaError:  # job evicted or never posted
                continue
            c = s.counters
            c["jobs"] += 1
            c["failed_tasks"] += int(job.numFailedTasks())
            stages = seen_stages.setdefault(s.sid, set())
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in stages:
                    continue
                stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: no attempt data
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += int(st.numCompleteTasks())
                c["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        sql = self.spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = [int(j) for j in re.findall(r"\d+", str(e.jobs().keySet().toString()))]
            spans = {owner[j].sid: owner[j] for j in jobs if j in owner}
            if not spans:
                continue
            s = spans[min(spans)]
            eid = e.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            for name, desc, m in plan_graph_metrics(dot):
                c = s.counters
                c["python_s"] += m.get("time to run Python workers", 0.0)
                if name == "BroadcastExchange":
                    c["broadcast_bytes"] += m.get("data size", 0.0)
                for key, probe in s.probes.items():
                    if probe(name, desc):
                        c[key] = c.get(key, 0.0) + m.get("number of output rows", 0.0)

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: sums over its spans (``pinned_blocks``: the maximum)."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.parent is None:
                continue
            d = out.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "pinned_blocks": 0.0})
            d["calls"] += 1
            d["wall_s"] += s.wall_s
            d["pinned_blocks"] = max(d["pinned_blocks"], s.pinned_blocks)
            for k in ("build_s", "plan_ms", "rows_out"):
                v = getattr(s, k)
                if v is not None:
                    d[k] = d.get(k, 0.0) + v
            for k, v in [*s.counters.items(), *s.extra.items()]:
                d[k] = d.get(k, 0.0) + v
        return out

    def op_self_s(self) -> list[float]:
        """Per traced op: op span minus its children (benchmark glue)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + s.wall_s
        return [s.wall_s - kids.get(s.sid, 0.0) for s in self.spans if s.parent is None]

    def dump(self) -> list[dict]:
        return [
            {"sid": s.sid, "name": s.name, "parent": s.parent, "request": s.request,
             "t0": s.t0, "t1": s.t1, "wall_s": s.wall_s, "jobs": [s.job_lo, s.job_hi],
             "build_s": s.build_s, "plan_ms": s.plan_ms, "rows_out": s.rows_out,
             "pinned_blocks": s.pinned_blocks, "counters": s.counters}
            for s in self.spans
        ]
