"""What the benchmark observes around the program: Python-worker memory
from ``/proc``, Spark's per-plan-node SQL metrics, and trace spans."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from stats import parse_metric

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
CHECK = "perfbench-check"
POLL_S = 0.2  # RssSampler's /proc polling interval


@contextlib.contextmanager
def checking(spark):
    """Run the SQL executions inside under the job description ``CHECK``,
    which ``SqlMetrics`` leaves out of an op's plan-node metrics."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", CHECK)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", None)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces and parentheses: the parent
        # pid is the second field after its closing parenthesis
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    seen, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            seen.append(child)
            todo.append(child)
    return seen


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark" in cmd and b"java" not in cmd.split(b"\0", 1)[0]


def _vm_hwm_kib(pid: int):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class RssSampler:
    """Polls ``/proc`` for this process's Python-worker descendants (the
    ``pyspark.daemon`` and the workers it forks) and keeps the largest
    VmHWM seen. VmHWM is each process's own peak, so polling only has to
    catch a worker before it exits."""

    def __init__(self):
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            if _is_python_worker(pid):
                hwm = _vm_hwm_kib(pid)
                if hwm is not None and hwm > self.peak_kib:
                    self.peak_kib = hwm

    def _loop(self) -> None:
        while not self._stop.wait(POLL_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


class SqlMetrics:
    """Reads Spark's SQL status store (populated with or without the UI)
    and folds each new execution's plan-node metrics into per-layer sums."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._count = 0
        self.skip()

    def _drain_listener(self) -> None:
        # the status store is filled from the asynchronous listener bus
        try:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # private API; fall back to a short grace period
            time.sleep(0.2)

    def skip(self) -> None:
        """Forget every execution so far (used before an untraced op)."""
        self._drain_listener()
        self._count = int(self._store.executionsCount())

    def new_nodes(self) -> list[dict]:
        """Plan nodes of every execution finished since the last call:
        ``{"execution", "node", "metrics": {name: parsed}}``."""
        self._drain_listener()
        nodes = []
        # executions are listed in id order, so new ones follow the offset
        for e in self._conv.asJava(self._store.executionsList(self._count, 1 << 30)):
            self._count += 1
            if e.description() == CHECK:
                continue
            eid = e.executionId()
            values = self._conv.asJava(self._store.executionMetrics(eid))
            graph = self._store.planGraph(eid)
            for node in self._conv.asJava(graph.allNodes()):
                metrics = {}
                for m in self._conv.asJava(node.metrics()):
                    parsed = parse_metric(values.get(m.accumulatorId()))
                    if parsed is not None:
                        metrics[m.name()] = parsed
                nodes.append({"execution": eid, "node": node.name(), "metrics": metrics})
        return nodes


def fold_nodes(nodes: list[dict]) -> dict:
    """Per-layer sums over plan nodes: Python workers, exchanges, scans."""
    out = {
        "python.boot_s": 0.0, "python.init_s": 0.0, "python.run_s": 0.0,
        "python.bytes_in": 0.0, "python.bytes_out": 0.0,
        "python.run_max_over_med": 0.0,
        "exchange.bytes_written": 0.0, "exchange.part_max_over_med": 0.0,
        "scan.bytes": 0.0, "scan.time_s": 0.0,
    }
    for n in nodes:
        m = n["metrics"]
        if PY_RUN in m:
            out["python.boot_s"] += m.get(PY_BOOT, {}).get("total", 0.0)
            out["python.init_s"] += m.get(PY_INIT, {}).get("total", 0.0)
            out["python.run_s"] += m[PY_RUN]["total"]
            out["python.bytes_in"] += m.get(PY_IN, {}).get("total", 0.0)
            out["python.bytes_out"] += m.get(PY_OUT, {}).get("total", 0.0)
            out["python.run_max_over_med"] = max(out["python.run_max_over_med"], _skew(m[PY_RUN]))
        if n["node"] == "Exchange":
            out["exchange.bytes_written"] += m.get("shuffle bytes written", {}).get("total", 0.0)
            read = m.get("local bytes read")
            if read:
                out["exchange.part_max_over_med"] = max(out["exchange.part_max_over_med"], _skew(read))
        if n["node"].startswith("Scan "):
            out["scan.bytes"] += m.get("size of files read", {}).get("total", 0.0)
            out["scan.time_s"] += m.get("scan time", {}).get("total", 0.0)
    return out


def _skew(parsed: dict) -> float:
    if parsed.get("med"):
        return parsed["max"] / parsed["med"]
    return 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, op id, attributes),
    written to one JSON file when the run ends. Inactive tracers record
    nothing."""

    def __init__(self):
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_s": time.perf_counter() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end_s"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
