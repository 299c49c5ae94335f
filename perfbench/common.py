"""Shared machinery: the session, set-up timing, process accounting, spans.

The session is the one `engine.cli._spark` ships; only the master
(`local[nproc]`) and the driver memory are set, to fit the machine.
"""

from __future__ import annotations

import contextlib
import json
import os
import pathlib
import statistics
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
CACHE = ROOT / ".bench_cache"
OUT = ROOT / ".bench_out"
DRIVER_MEMORY = "3g"
SETUPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf() -> list[str]:
    return [f"spark.master=local[{nproc()}]", f"spark.driver.memory={DRIVER_MEMORY}"]


def new_session():
    from engine.cli import _spark

    spark = _spark(conf=session_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs):
    return statistics.median(xs)


def du_mb(path) -> float:
    p = pathlib.Path(path)
    if not p.exists():
        return 0.0
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) / 1e6


def data_files(path) -> list[pathlib.Path]:
    p = pathlib.Path(path)
    if not p.exists():
        return []
    return [
        f for f in p.rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    ]


# ------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in pathlib.Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """user+sys of the process plus its reaped children."""
    try:
        f = pathlib.Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in f[11:15])


class Engine:
    """The JVM of the live session and the Python workers under it."""

    def __init__(self, spark):
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def cpu_s(self) -> float:
        ticks = sum(_cpu_ticks(p) for p in _tree(self.jvm_pid))
        return ticks / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        return sum(_status_kb(p, "VmHWM") for p in _tree(self.jvm_pid)) / 1024


# ----------------------------------------------------------------- set-up


def _import_engine(batches):
    import engine.extract.udf  # noqa: F401

    yield from batches


def warm_workers(spark) -> None:
    """Start one Python worker per core and import the engine in it."""
    n = nproc()
    noop(spark.range(n, numPartitions=n).mapInArrow(_import_engine, "id long"))


def timed_setups() -> tuple[object, float]:
    """Start the session SETUPS times (the first launches the JVM; the
    next stops the previous context and starts a new one in it), each
    followed by the worker warm-up. Returns the last session and the
    median set-up seconds."""
    import pyspark.sql  # noqa: F401  (import cost is not set-up)

    spark, walls = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = new_session()
        warm_workers(spark)
        walls.append(time.perf_counter() - t0)
    return spark, median(walls)


def shutdown(spark) -> None:
    """Stop the session, then close the JVM's stdin (it exits when that
    pipe breaks) and wait for it and its Python workers to end."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, s, _, p = self.spans[idx]
            self.spans[idx] = (n, s, time.perf_counter(), p)

    def total(self, name: str, parent: str | None = None) -> float:
        """Seconds in spans called `name` (under a span called `parent`)."""
        return sum(
            e - s for n, s, e, p in self.spans
            if n == name and (parent is None or (p >= 0 and self.spans[p][0] == parent))
        )

    @contextlib.contextmanager
    def wrapped(self, owner, attrs: dict[str, str]):
        """Replace owner.<attr> by a version that records span <name>
        around each call; restore on exit."""
        saved = {a: getattr(owner, a) for a in attrs}

        def wrap(fn, name):
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            return traced

        for a, name in attrs.items():
            setattr(owner, a, wrap(saved[a], name))
        try:
            yield
        finally:
            for a, fn in saved.items():
                setattr(owner, a, fn)

    def write(self, path: pathlib.Path, layers: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({
            "layers": layers,
            "spans": [
                {"name": n, "start": s - self.t0, "end": e - self.t0, "parent": p}
                for n, s, e, p in self.spans
            ],
        }))


# ------------------------------------------------------- Spark SQL metrics


def plan_metrics(df, node_name: str) -> dict[str, int]:
    """Sum the SQL metrics of every `node_name` node in the executed plan
    of `df` (after an action ran on `df` itself)."""
    plan = df._jdf.queryExecution().executedPlan()
    out: dict[str, int] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == node_name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = out.get(kv._1(), 0) + int(kv._2().value())
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
        elif "QueryStage" in name:
            todo.append(node.plan())
        kids = node.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    return out


def result(correct, attempted, failed, metrics: dict[str, tuple[float, str]]):
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
