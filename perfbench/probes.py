"""Host state, process-tree memory and the traced run's layer records.

Nothing here runs inside the program: spans come from wrappers the
benchmark installs around the program's public layer functions, and
execution counts come from Spark's public monitoring REST API
(``/jobs``, ``/stages``, ``/sql``), read after each operation and outside
the timed region. Operations are told apart by a session job tag
(``SparkSession.addTag``) per operation.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import statistics
import threading
import time
import urllib.request

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ host state
def host_sample() -> dict:
    """CPU steal seconds since boot (/proc/stat) and the 1-minute load
    (/proc/loadavg)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": int(cpu[8]) / _TICK, "load1": load1}


class RssSampler:
    """One thread that samples the resident memory of this process and all
    its descendants (the JVM and its Python workers) from /proc, keeping
    the peak."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self):
        """Start a new peak from the current resident size."""
        now = tree_rss(os.getpid())
        with self._lock:
            self.peak_bytes = now

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            now = tree_rss(root)
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, now)
            self._stop.wait(self.period_s)


def _process_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, resident bytes by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = pages * _PAGE
    return children, rss


def _tree(root: int, children: dict[int, list[int]]) -> list[int]:
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> int:
    children, rss = _process_table()
    return sum(rss.get(pid, 0) for pid in _tree(root, children))


def descendants(root: int) -> list[int]:
    return _tree(root, _process_table()[0])[1:]


# ----------------------------------------------------------------- spans
class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory, plus counts
    recorded at the same boundaries; written out once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self.op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def count(self, name: str, value: float):
        self.counts.append({"name": name, "value": value, "op": self.op})

    def wrap(self, module, attr: str, name: str, on_call=None):
        """Replace ``module.attr`` by a wrapper that records a span named
        ``name`` around each call (and ``on_call(args, kwargs)``'s counts)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call(self, args, kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, wrapper)

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **s}) + "\n")
            for c in self.counts:
                f.write(json.dumps({"kind": "count", **c}) + "\n")


# ------------------------------------------------------------------ REST
class SparkRest:
    """Reader of the Spark driver's monitoring REST API for one
    application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def op_records(self, tag: str) -> dict:
        """Jobs, their stages and the SQL executions of one operation: the
        jobs whose tags include ``tag`` (the session prefixes it)."""
        jobs = [j for j in self._get("/jobs")
                if any(t == tag or t.endswith("-" + tag)
                       for t in j.get("jobTags", []))]
        ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        sql = [e for e in self._get("/sql?details=true&planDescription=false"
                                    "&length=100000")
               if ids & set(e.get("successJobIds", [])
                            + e.get("failedJobIds", [])
                            + e.get("runningJobIds", []))]
        return {"jobs": jobs, "stages": stages, "sql": sql}


def rest_time(ts: str) -> float:
    """Epoch seconds of a REST timestamp (2026-01-01T10:00:00.123GMT)."""
    return dt.datetime.strptime(ts.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def exec_counts(rec: dict, op_wall_s: float) -> dict:
    """Per-operation execution counts from one ``op_records`` result."""
    ivs = sorted((rest_time(j["submissionTime"]),
                  rest_time(j["completionTime"]))
                 for j in rec["jobs"] if j.get("completionTime"))
    covered, cur = 0.0, None
    for a, b in ivs:
        if cur is None or a > cur[1]:
            if cur:
                covered += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        covered += cur[1] - cur[0]
    st = rec["stages"]
    return {
        "exec.jobs_per_op": len(rec["jobs"]),
        "exec.stages_per_op": len(st),
        "exec.tasks_per_op": sum(s["numCompleteTasks"] for s in st),
        "exec.gap_s_per_op": max(op_wall_s - covered, 0.0),
        "exec.task_run_s_per_op": sum(s["executorRunTime"] for s in st) / 1e3,
        "exec.shuffle_bytes_per_op": sum(s["shuffleWriteBytes"] for s in st),
        "exec.spill_bytes_per_op": sum(s["memoryBytesSpilled"]
                                       + s["diskBytesSpilled"] for s in st),
    }


def sql_node_metrics(rec: dict, node_prefix: str) -> list[dict[str, float]]:
    """Numeric metrics of every SQL plan node whose name starts with
    ``node_prefix``, one dict per node (e.g. 'Scan parquet')."""
    out = []
    for e in rec["sql"]:
        for n in e.get("nodes", []):
            if n.get("nodeName", "").startswith(node_prefix):
                out.append({m["name"]: _num(m["value"])
                            for m in n.get("metrics", [])})
    return out


def _num(v: str) -> float:
    """First number of a REST metric value ('1,234', '12.0 MiB', or the
    'total (min, med, max)' form)."""
    head = v.strip().split("\n")[-1] if "\n" in v else v.strip()
    tok = head.replace(",", "").split()
    if not tok:
        return 0.0
    try:
        x = float(tok[0].split("(")[0])
    except ValueError:
        return 0.0
    unit = tok[1] if len(tok) > 1 else ""
    scale = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
             "ms": 1e-3, "s": 1, "m": 60, "h": 3600}.get(unit, 1)
    return x * scale


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
