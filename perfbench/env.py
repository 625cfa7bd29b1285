"""Run isolation, the Spark session, and process-level measurements.

Every run gets a private root under ``<checkout>/.perfbench_runs/`` that
holds ``TMPDIR``, ``spark.local.dir``, the checkpoint roots and the event
log. The package is imported from this checkout on the driver and on the
Python workers, and both imports are checked. Every process a run starts
is stopped and waited for before it exits.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pubmedkb_web_spark"
DRIVER_MEMORY = "3g"


class CheckoutError(RuntimeError):
    """The benchmark is not running inside a checkout of the engine."""


def check_checkout() -> None:
    """Fail fast (before any JVM starts) when the engine sources are absent."""
    for rel in (os.path.join(PACKAGE, "__init__.py"), "__spark_entry__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(CHECKOUT, rel)):
            raise CheckoutError(f"{rel} not found under {CHECKOUT}")


def code_digest() -> str:
    """Content hash of the engine sources: the checkout is not a git
    repository when the benchmark runs, so this stands in for the commit."""
    h = hashlib.sha256()
    paths = [os.path.join(CHECKOUT, "__spark_entry__.py")]
    for dp, dirs, fns in os.walk(os.path.join(CHECKOUT, PACKAGE)):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths += [os.path.join(dp, fn) for fn in sorted(fns) if fn.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, CHECKOUT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class RunRoot:
    """A private directory for one run; removed by :meth:`close`."""

    def __init__(self) -> None:
        base = os.path.join(CHECKOUT, ".perfbench_runs")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=base)
        for sub in ("tmp", "local", "events", "work"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def isolate(self) -> None:
        """Point every temp location of this process and its children into
        the run root, import the engine from this checkout, and drop the
        engine's own environment knobs so the run uses its defaults."""
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        tempfile.tempdir = self.sub("tmp")
        prior = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = CHECKOUT + (os.pathsep + prior if prior else "")
        if sys.path[0] != CHECKOUT:
            sys.path.insert(0, CHECKOUT)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        try:
            os.rmdir(base)  # only succeeds when no other run is live
        except OSError:
            pass


def cores() -> int:
    """Task slots: one fewer than the (at most 4) CPUs, which leaves one for
    the driver's own threads (py4j, planning, JIT, GC). Small queries are
    driver-bound, and with every CPU running tasks a stall of any one CPU
    on a shared host delays the whole stage."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


def start_session(root: RunRoot, event_log: bool = False):
    """local[cores] session sized for a 4-vCPU / 15 GB host."""
    from pubmedkb_web_spark.session import build_session

    n = cores()
    conf = {
        "spark.local.dir": root.sub("local"),
        "spark.sql.warehouse.dir": root.sub("work", "warehouse"),
        # a fixed heap size: peak memory then does not depend on when the
        # collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={root.sub('tmp')}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + root.sub("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(
        app_name="perfbench",
        cores=n,
        shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def assert_checkout_imports(spark) -> None:
    """The engine must come from this checkout, on the driver and on every
    Python worker; a stale install elsewhere would mix two versions."""
    import importlib

    mine = os.path.join(CHECKOUT, PACKAGE) + os.sep
    drv = importlib.import_module(PACKAGE).__file__
    if not os.path.abspath(drv).startswith(mine):
        raise CheckoutError(f"driver imported {PACKAGE} from {drv}")
    package = PACKAGE

    def worker_package_file(_rows):  # nested: shipped by value, not by module
        import importlib

        yield importlib.import_module(package).__file__

    n = spark.sparkContext.defaultParallelism
    files = set(
        spark.sparkContext.parallelize(range(n), n).mapPartitions(worker_package_file).collect()
    )
    bad = [f for f in files if not os.path.abspath(f).startswith(mine)]
    if bad:
        raise CheckoutError(f"workers imported {PACKAGE} from {bad}")


def run_info(seed: int, workload: str, spark) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "host": platform.node(),
        "cpu_count": os.cpu_count(),
        "cores": cores(),
        "driver_memory": DRIVER_MEMORY,
        "spark_version": spark.version,
        "python": platform.python_version(),
        "code_sha256": code_digest(),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the driver JVM plus its Python workers,
    sampled every ``period`` seconds. The JVM (a direct child of this
    process) counts by RSS: reading its PSS would walk its page tables under
    its memory-map lock and slow the run being measured. Python workers
    count by PSS, since forked workers share their daemon's pages. Other
    descendants, such as the JVM's short-lived spawn helpers whose RSS
    briefly mirrors the JVM's, are not counted."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        kids = _children_map()
        direct = kids.get(os.getpid(), [])
        todo, total = list(direct), 0
        while todo:
            pid = todo.pop()
            comm = _comm(pid)
            if comm == "java" and pid in direct:
                total += _rss_bytes(pid)
            elif comm.startswith("python"):
                total += _pss_bytes(pid)
            todo.extend(kids.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def stop_spark(graceful: bool = True, timeout: float = 20.0) -> None:
    """Stop the active session and the driver JVM, and wait for the JVM to
    exit. Its Python daemon and workers outlive it by a moment; they are
    waited for by :func:`end_descendants`. After an interrupted py4j call
    the gateway may answer out of turn, so ``graceful=False`` skips the
    session stop and lets the JVM stop itself when its stdin closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        active = SparkSession.getActiveSession() if graceful else None
        if active is not None:
            active.stop()
        gateway.shutdown()
    except Exception:
        traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)


# ----------------------------------------------------------- process tree

PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def adopt_orphans() -> None:
    """Make this process the reaper of every descendant that loses its
    parent. The JVM's Python daemon and workers are the JVM's children;
    when the JVM exits they would pass to init and escape
    :func:`end_descendants`."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _reap_children() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace: float = 3.0, term: float = 5.0, give_up: float = 20.0) -> None:
    """Wait until every process this run started has ended: ``grace``
    seconds for them to exit on their own, then SIGTERM, and SIGKILL
    ``term`` seconds later. Reaps each one, so none is left as a zombie.
    A process that SIGKILL has not ended after ``give_up`` seconds (one
    stuck in the kernel) is reported rather than waited for forever."""
    t0 = time.monotonic()
    while True:
        _reap_children()
        pids = descendants()
        if not pids:
            return
        waited = time.monotonic() - t0
        if waited > give_up:
            print(f"perfbench: processes {pids} did not end", file=sys.stderr)
            return
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + term else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class Interrupted(BaseException):
    """A signal or the run's own deadline cut the run short."""


def _interrupt(signum, _frame):
    raise Interrupted(signal.Signals(signum).name)


def guard(deadline_s: float) -> None:
    """Turn SIGTERM, SIGHUP and SIGINT, and ``deadline_s`` seconds of
    wall time (SIGALRM), into :class:`Interrupted`, so the caller's
    ``finally`` stops Spark and every child before the process ends."""
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _interrupt)
    signal.alarm(int(deadline_s))


def unguard() -> None:
    """Cleanup has begun: a second signal must not cut it short."""
    signal.alarm(0)
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, signal.SIG_IGN)


def dump_json(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))
