"""Measurement from outside the program: spans around calls into its
public functions, the Spark status REST API, and ``/proc``.

Nothing here changes the program. The traced run turns the Spark UI on
(the REST API needs it), tags every op's jobs with a job group and every
span's jobs with a job description, and afterwards reads job, stage and
SQL metrics back per op.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request
from datetime import datetime

_CLK = os.sysconf("SC_CLK_TCK")
SAMPLE_INTERVAL_S = 0.1


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory. Disabled, it
    records nothing and touches no Spark state."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def op_scope(self, op: str):
        """Tag every job of one op with the job group ``op``."""
        if not self.enabled:
            yield
            return
        self.op = op
        self.sc.setLocalProperty("spark.jobGroup.id", op)
        try:
            with self.span("op"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.op = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": self.op, "parent": parent,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobDescription(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]]["name"] if self._stack else None
            )


class Rest:
    """Minimal client for the Spark status REST API on localhost."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read().decode())


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4}


def sql_metric(text: str) -> float:
    """Parse a SQL metric display value ('1.8 s', '317 ms', '1,564.7 KiB',
    '100,000', or a 'total (min, med, max ...)' block) to seconds, bytes
    or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _gmt(ts: str) -> float:
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def op_rest_metrics(rest: Rest, op: str, wall: tuple[float, float]) -> dict:
    """Job, stage and SQL metrics of the jobs tagged with group ``op``.
    ``wall`` is the op's (start, end) in epoch seconds."""
    jobs = [j for j in rest.get("jobs") if j.get("jobGroup") == op]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j["stageIds"]}
    stages = [s for s in rest.get("stages") if s["stageId"] in stage_ids
              and s["status"] == "COMPLETE"]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
        "spark.task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle.write_s": sum(s["shuffleWriteTime"] for s in stages) / 1e9,
        "shuffle.fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "spill.bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "scan.input_bytes": sum(s["inputBytes"] for s in stages),
        "sink.output_bytes": sum(s["outputBytes"] for s in stages),
        "dedup.cc_jobs": sum(1 for j in jobs if j.get("description") == "dedup.cc"),
    }
    # driver gap: op wall not covered by any running job
    spans = sorted(
        (_gmt(j["submissionTime"]), _gmt(j["completionTime"]))
        for j in jobs if j.get("completionTime")
    )
    covered, reached = 0.0, wall[0]
    for s, e in spans:  # by start; count only the part past what is covered
        s, e = max(s, reached), min(e, wall[1])
        if e > s:
            covered += e - s
            reached = e
    out["driver.gap_s"] = max(0.0, (wall[1] - wall[0]) - covered)

    py = {"time to run Python workers": "python.total_s",
          "time to start Python workers": "python.boot_s",
          "time to initialize Python workers": "python.init_s",
          "data sent to Python workers": "python.bytes_sent",
          "data returned from Python workers": "python.bytes_received"}
    for k in (*py.values(), "python.rows", "features.exchanges"):
        out[k] = 0.0
    for ex in rest.get("sql?details=true&planDescription=false&length=100000"):
        if not job_ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                                    + ex.get("runningJobIds", [])):
            continue
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "time to run Python workers" in metrics:
                for name, key in py.items():
                    if name in metrics:
                        out[key] += sql_metric(metrics[name])
                out["python.rows"] += sql_metric(metrics.get("number of output rows", "0"))
            if ex.get("description") == "features.write" and node["nodeName"].endswith("Exchange"):
                out["features.exchanges"] += 1
    return out


def _proc_stat(pid: int):
    """(comm, cpu seconds, anonymous RSS bytes) of one process, or None if
    gone. Anonymous RSS leaves out file-backed pages (jars, memory-mapped
    shuffle blocks) that the page cache can drop at any time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    cpu = (int(fields[11]) + int(fields[12])) / _CLK
    m = re.search(r"^RssAnon:\s+(\d+) kB", status, re.M)
    return comm, cpu, int(m.group(1)) * 1024 if m else 0


def _children() -> dict[int, int]:
    """pid -> ppid for every process on the host we can read."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    raw = f.read()
                out[int(d)] = int(raw[raw.rindex(")") + 2 :].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    return out


class ProcSampler:
    """Background sampler of this process's descendants (the Spark JVM
    and its Python workers): peak anonymous RSS of each kind and CPU time.
    ``mark()`` starts a measured window; ``window()`` returns it."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._cpu: dict[int, tuple[str, float]] = {}
        self._base: dict[int, float] = {}
        self._peak = {"java": 0, "python": 0}
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        parents = _children()
        me = os.getpid()
        desc, frontier = [], [me]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parents.items() if pp == p]
            desc += kids
            frontier += kids
        rss = {"java": 0, "python": 0}
        with self._lock:
            for pid in desc:
                st = _proc_stat(pid)
                if st is None:
                    continue
                comm, cpu, r = st
                kind = "java" if comm.startswith("java") else "python" if comm.startswith("python") else "other"
                self._cpu[pid] = (kind, cpu)
                if kind in rss:
                    rss[kind] += r
            for k, v in rss.items():
                self._peak[k] = max(self._peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self._sample()

    def mark(self) -> None:
        self._sample()
        with self._lock:
            self._base = {pid: cpu for pid, (_, cpu) in self._cpu.items()}
            self._peak = {"java": 0, "python": 0}

    def window(self) -> dict:
        """CPU seconds by process kind since ``mark()``, and peak RSS (MB)."""
        self._sample()
        with self._lock:
            cpu = {"java": 0.0, "python": 0.0, "other": 0.0}
            for pid, (kind, c) in self._cpu.items():
                cpu[kind] += c - self._base.get(pid, 0.0)
            return {
                "jvm_cpu_s": cpu["java"],
                "python_cpu_s": cpu["python"],
                "jvm_peak_rss_mb": self._peak["java"] / 2**20,
                "python_peak_rss_mb": self._peak["python"] / 2**20,
            }

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# "[1760000000123ms] GC(7) Pause Young (Normal) (G1 Evacuation Pause) 120M->31M(256M) 3.1ms"
_GC_PAUSE = re.compile(r"^\[(\d+)ms\] GC\(\d+\) Pause .* (\d+)M->(\d+)M\((\d+)M\)")


def gc_pauses(path: str) -> list[tuple[float, int, int, int]]:
    """(epoch seconds, heap MB in use before the pause, after it, heap MB
    committed) of every GC pause in the JVM's
    ``-Xlog:gc:file=<path>:timemillis`` log."""
    out = []
    with open(path) as f:
        for line in f:
            m = _GC_PAUSE.match(line)
            if m:
                out.append((int(m.group(1)) / 1e3, *(int(m.group(i)) for i in (2, 3, 4))))
    return out


def heap_window(path: str, t0: float, t1: float) -> dict:
    """Heap figures of the window (t0, t1] (epoch seconds), which starts
    and ends with a collection: MB allocated in it (heap in use before
    each pause less heap in use after the pause before it), the most
    heap still in use after any pause, and the most heap committed."""
    pauses = gc_pauses(path)
    seen = [p for p in pauses if p[0] <= t0][-1:] + [p for p in pauses if t0 < p[0] <= t1]
    return {
        "heap_alloc_mb": sum(b[1] - a[2] for a, b in zip(seen, seen[1:])),
        "heap_live_peak_mb": max((p[2] for p in seen), default=0),
        "heap_committed_mb": max((p[3] for p in seen), default=0),
    }


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
