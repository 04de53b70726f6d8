"""Session, warm-up, job tagging, memory sampling and the box-load
control shared by every workload."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from html.parser import HTMLParser

# Single-thread control throughput at the low end of idle readings on the
# 4-vCPU reference box (idle readings swing 2.3-4.8); a run whose control
# median falls below 70% of it was taken on a contended box.  NOTES.md.
CONTROL_REF_MB_S = 2.42
CONTROL_CONTENDED_SHARE = 0.7
# JVM heap, sized to a small shared box and fixed and pre-touched at
# start, so peak RSS does not depend on when the collector grows the
# heap; what varies is off-heap (Arrow) memory and the Python processes
DRIVER_MEM = "2g"


def start_spark(cores: int, workdir: str, event_log_dir: str | None = None):
    """A session from the program's own factory, with every file it
    writes kept under ``workdir``.  ``event_log_dir`` turns on an
    uncompressed, non-rolling event log there."""
    from ocr_hardsubx_spark.plans.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark, cores: int) -> None:
    """Ship the package and spin up one Python worker per core with the
    extraction modules imported, as long-lived executors would have."""
    from ocr_hardsubx_spark.plans.packaging import ensure_workers_can_import

    ensure_workers_can_import(spark)

    def _noop(batches):
        from ocr_hardsubx_spark.operators import extract as _e  # noqa: F401
        for b in batches:
            yield b

    (spark.range(cores * 4).repartition(cores * 4)
     .mapInPandas(_noop, schema="id long")
     .write.format("noop").mode("overwrite").save())


def _alive(pid: int) -> bool:
    """Running, i.e. neither gone nor a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM PySpark launched (it exits when its stdin closes) and
    wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    descendants = set(_tree_rss(proc.pid)) - {proc.pid}
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    # Python workers are the JVM's children, not ours: wait for them too
    deadline = time.monotonic() + timeout_s
    while descendants and time.monotonic() < deadline:
        descendants = {p for p in descendants if _alive(p)}
        time.sleep(0.05)
    for pid in descendants:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def become_subreaper() -> None:
    """Adopt orphaned descendants (a Python worker whose daemon exited
    first, say), so ``reap_children`` can wait for them too."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                            0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    return [pid for pid, ppid in _ppids().items() if ppid == me]


def reap_children(timeout_s: float = 30.0) -> None:
    """Stop multiprocessing's resource tracker (the corpus pool starts
    one, and it would outlive this process), then wait for every child
    to end, killing what is left after ``timeout_s``."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + timeout_s
    while True:
        pids = _children()
        for pid in pids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        pids = [p for p in pids if _alive(p)]
        if not pids:
            break
        if time.monotonic() > deadline:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                with contextlib.suppress(ChildProcessError):
                    os.waitpid(pid, 0)
            break
        time.sleep(0.05)
    for pid in _children():  # zombies left by the kills above
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)


def event_log_file(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {names}")
    return os.path.join(log_dir, names[0])


# ---- job tagging ----

_ACTIONS = {
    "pyspark.sql.classic.dataframe": ("DataFrame", (
        "collect", "count", "toPandas", "localCheckpoint", "checkpoint",
        "toLocalIterator")),
    "pyspark.sql.readwriter": ("DataFrameWriter", ("save", "parquet")),
}


class JobTagger:
    """Sets ``spark.job.description`` to ``phase|action|caller`` around
    every DataFrame action while installed.  ``caller`` is the first
    frame outside pyspark, so jobs are attributed to the program
    function that asked for them; AQE and broadcast sub-jobs inherit the
    description of the action that started them.  ``calls`` records the
    wall time of each outermost action as ``(description, seconds)``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.phase = "setup"
        self.calls: list[tuple[str, float]] = []
        self._depth = 0
        self._saved: list = []

    def __enter__(self) -> "JobTagger":
        import importlib

        import pyspark

        pyspark_dir = os.path.dirname(os.path.abspath(pyspark.__file__))
        for mod_name, (cls_name, methods) in _ACTIONS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for m in methods:
                self._saved.append((cls, m, cls.__dict__.get(m)))
                setattr(cls, m, self._wrap(m, getattr(cls, m), pyspark_dir))
        return self

    def __exit__(self, *exc) -> None:
        for cls, m, fn in reversed(self._saved):
            if fn is None:
                delattr(cls, m)
            else:
                setattr(cls, m, fn)
        self._saved.clear()
        self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, method: str, fn, pyspark_dir: str):
        tagger = self

        def tagged(*args, **kwargs):
            f = sys._getframe(1)
            while f is not None and f.f_code.co_filename.startswith(
                    pyspark_dir):
                f = f.f_back
            where = ("?" if f is None else f"{f.f_code.co_name}@"
                     f"{os.path.basename(f.f_code.co_filename)}:{f.f_lineno}")
            desc = f"{tagger.phase}|{method}|{where}"
            prev = tagger.sc.getLocalProperty("spark.job.description")
            tagger.sc.setLocalProperty("spark.job.description", desc)
            tagger._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tagger._depth -= 1
                if not tagger._depth:
                    tagger.calls.append((desc, time.perf_counter() - t0))
                tagger.sc.setLocalProperty("spark.job.description", prev)
        return tagged

    def call_s(self, select) -> float:
        """Wall seconds of the outermost actions whose description
        ``select`` accepts."""
        return sum(dt for desc, dt in self.calls if select(desc))


def tagged(phase_prefix: str, actions=None, callers=None, where=None):
    """Predicate over a tagged description ``phase|action|caller@file:
    line``: the phase starts with ``phase_prefix`` and, where given, the
    action is in ``actions``, the caller function in ``callers``, and
    ``where`` occurs in the caller's location."""
    def select(description: str) -> bool:
        parts = description.split("|")
        if len(parts) != 3:
            return False
        phase, action, loc = parts
        return (phase.startswith(phase_prefix)
                and (actions is None or action in actions)
                and (callers is None or loc.split("@")[0] in callers)
                and (where is None or where in loc))
    return select


# ---- peak resident memory of the driver process tree ----

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _resident_bytes(pid: int, comm: str) -> int:
    """Proportional set size (shared pages split among their sharers) of
    a Python process: the workers are forks of one daemon and share most
    of their pages.  The JVM shares next to nothing, and its PSS costs a
    walk of 2 GB of page tables under its memory lock (about 60 ms), so
    it reads its RSS, an O(1) counter."""
    if comm == "java":
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _ppids() -> dict[int, int]:
    """pid -> parent pid of every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def _tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) for ``root`` and its
    descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            out[pid] = (comm, _resident_bytes(pid, comm))
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (the JVM and the Python workers) while ``active`` is
    set."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_split: dict[str, tuple[int, int]] = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                tree = _tree_rss(pid)
                total = sum(rss for _c, rss in tree.values())
                if total > self.peak:
                    self.peak = total
                    split: dict[str, tuple[int, int]] = {}
                    for comm, rss in tree.values():
                        n, b = split.get(comm, (0, 0))
                        split[comm] = (n + 1, b + rss)
                    self.peak_split = split

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---- box-load control ----

_CONTROL_PAGE = ("<html><head><title>control</title></head><body>"
                 + "".join(f'<div class="c{i % 7}"><p>paragraph {i} of '
                           f'fixed text with <a href="/l{i}">a link</a> '
                           f"and <b>bold</b> words.</p></div>"
                           for i in range(400))
                 + "</body></html>")


def control_mb_s(repeats: int = 20) -> float:
    """Single-thread throughput of the standard-library HTML tokenizer
    over a fixed page.  It runs no program code, so it moves only with
    load on the box."""
    t0 = time.perf_counter()
    for _ in range(repeats):
        p = HTMLParser()
        p.feed(_CONTROL_PAGE)
        p.close()
    wall = time.perf_counter() - t0
    return repeats * len(_CONTROL_PAGE) / wall / 1e6


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quartiles(xs) -> tuple[float, float]:
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]
