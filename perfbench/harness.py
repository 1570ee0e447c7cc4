"""Run-time plumbing for the benchmark: resources, Spark session, memory
sampling and spans.

Everything here treats the engine as a library: the session comes from
``gips_spark.get_spark`` (configured through ``extra_conf`` and the
``SPARK_GRAFT_*`` environment variables it already reads) and layers are
timed from outside, around calls into their public functions.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

YOUNG_GEN_MB = 256


class JvmDied(RuntimeError):
    """The Spark JVM exited under the benchmark."""


def meminfo_mb(field: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(field)


def driver_heap_mb() -> int:
    """A sixteenth of physical RAM, between 1 and 2 GiB: the inputs are a
    few tens of MB, the host may be shared, and a smaller heap makes the
    JVM's resident size depend less on when G1 collects the old
    generation."""
    return max(1024, min(2048, meminfo_mb() // 16))


def cores() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """Per-run scratch under the checkout; removed by ``close``."""

    def __init__(self, root: str):
        self.root = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        for sub in ("local", "tmp", "events", "inputs", "out"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:  # another run's directory is still there
            pass


def spark_conf(dirs: RunDirs, event_log: bool) -> dict:
    conf = {
        "spark.local.dir": dirs.path("local"),
        "spark.sql.warehouse.dir": dirs.path("tmp", "warehouse"),
        # A fixed young generation: with G1's adaptive sizing the JVM's
        # resident size swung by ±30% between runs of the same work.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs.path('tmp')} -XX:-UsePerfData -Xmn{YOUNG_GEN_MB}m"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.dir": "file://" + dirs.path("events"),
                # Spark 4 compresses event logs with zstd by default; the
                # parser reads plain JSON lines.
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, repo: str, dirs: RunDirs, n_cores: int):
        self.repo = repo
        self.dirs = dirs
        self.n_cores = n_cores
        os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
        # Python workers import the engine from the checkout.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH", "")) if p
        )
        self.spark = None

    def start(self, event_log: bool = False):
        from gips_spark import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.n_cores}]",
            shuffle_partitions=self.n_cores,
            extra_conf=spark_conf(self.dirs, event_log),
        )
        return self.spark

    def restart(self, event_log: bool):
        """New SparkContext in the same JVM (event logging is fixed at
        context start)."""
        self.spark.stop()
        return self.start(event_log)

    def jvm_alive(self) -> bool:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc is None or proc.poll() is None

    def set_group(self, group: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(group, desc)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if self.spark is not None and self.jvm_alive():
            try:
                self.spark.stop()
            except Exception as exc:  # the JVM may already be gone
                print(f"perfbench: spark.stop failed: {exc!r}", file=sys.stderr)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as exc:
                print(f"perfbench: gateway shutdown failed: {exc!r}", file=sys.stderr)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _children(pid_parent: dict[int, int], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in pid_parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size, so pages shared by forked Python workers
    are counted once; VmRSS where smaps_rollup is missing."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class MemorySampler:
    """Peak memory of every process below this one (the driver JVM and
    its Python workers), sampled from /proc while ``active`` is set."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_jvm_kb = 0
        self.peak_python_kb = 0
        #: (wall time, JVM kB, Python kB) of every sample taken while active
        self.samples: list[tuple[float, int, int]] = []
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            if not self.active.is_set():
                continue
            parents = {}
            for name in os.listdir("/proc"):
                if not name.isdigit():
                    continue
                try:
                    with open(f"/proc/{name}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
            jvm = py = 0
            for p in _children(parents, me):
                kb = _pss_kb(p)
                if _comm(p) == "java":
                    jvm += kb
                else:
                    py += kb
            self.samples.append((time.time(), jvm, py))
            self.peak_kb = max(self.peak_kb, jvm + py)
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
            self.peak_python_kb = max(self.peak_python_kb, py)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def peak_mb_between(self, start: float, end: float) -> float:
        """Peak JVM + Python memory of the samples taken in [start, end]."""
        return max(
            (j + p for t, j, p in self.samples if start <= t <= end), default=0
        ) / 1024.0


class Tracer:
    """Spans kept in memory: name, start, end, parent, pass id.

    Every span runs under its own Spark job group ``<pass>/<name>`` so
    the event log attributes jobs to it."""

    def __init__(self, session: Session):
        self.session = session
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str, pass_id: str):
        return _Span(self, name, pass_id)


class _Span:
    def __init__(self, tracer: Tracer, name: str, pass_id: str):
        self.tracer = tracer
        self.rec = {"name": name, "pass": pass_id, "group": f"{pass_id}/{name}"}

    def __enter__(self):
        t = self.tracer
        self.rec["parent"] = t._stack[-1]["group"] if t._stack else None
        t._stack.append(self.rec)
        t.session.set_group(self.rec["group"], self.rec["name"])
        self.rec["start"] = time.time()
        return self.rec

    def __exit__(self, *exc):
        t = self.tracer
        self.rec["end"] = time.time()
        self.rec["ok"] = exc[0] is None
        t._stack.pop()
        t.spans.append(self.rec)
        if t._stack and t.session.jvm_alive():
            parent = t._stack[-1]
            t.session.set_group(parent["group"], parent["name"])
        return False
