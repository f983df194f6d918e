"""Shared run plumbing: the run context, the engine's environment,
the output-check failure type, and stopping every process a run starts."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class CheckFailed(Exception):
    """An output check found the engine's result wrong."""


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def set_environment(workdir: str) -> None:
    """The engine's environment for this run. The Python workers Spark
    launches unpickle the ``sse`` source from the package, so the
    checkout must be on PYTHONPATH; scratch files stay in the run dir."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # get_spark's default heap (16g) exceeds small machines' RAM.
    gib = max(1, min(2, _mem_total_bytes() // (4 << 30)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gib}g"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # Every JVM spark-submit starts: temp files in the run dir, and no
    # hsperfdata file, which HotSpot writes under /tmp whatever the
    # java.io.tmpdir.
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    prior = os.environ.get("JAVA_TOOL_OPTIONS")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {java_opts}" if prior else java_opts
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h
STOP_TIMEOUT_S = 30.0


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, however
    deep: a Spark Python worker whose JVM has exited is re-parented here
    rather than to init, so stop_processes finds it and waits for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        # fields after the parenthesised command name: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def _jvm():
    """The Popen of the Spark JVM PySpark launched here, or None."""
    pyspark = sys.modules.get("pyspark")
    return getattr(pyspark.SparkContext._gateway, "proc", None) if pyspark else None


def _end_jvm() -> None:
    """Close the JVM's stdin: PySpark's gateway exits on EOF there."""
    proc = _jvm()
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass


def exit_on_sigterm() -> None:
    """SIGTERM ends the run: the main thread raises SystemExit(143) and
    unwinds through the finally blocks that stop the stream, the
    generator and the session. A py4j call the main thread is blocked
    in would delay that until it returns, so a watcher thread, woken
    through the signal wakeup fd whichever thread took the signal, also
    ends the JVM at once, which fails that call."""
    r, w = os.pipe()
    os.set_blocking(w, False)
    signal.set_wakeup_fd(w, warn_on_full_buffer=False)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def watch() -> None:
        while signal.SIGTERM not in os.read(r, 64):
            pass
        _end_jvm()

    threading.Thread(target=watch, name="sigterm-watch", daemon=True).start()


def shutdown(spark) -> None:
    """End of every run: stop the session, then every process the run
    started. A SIGTERM from here on is ignored, so it cannot cut the
    clean-up short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the run's outcome is already decided
            traceback.print_exc()
    stop_processes()


def stop_processes() -> None:
    """Stop the Spark JVM and every other process this run started, and
    wait until each has ended. PySpark leaves its JVM running after
    ``spark.stop()`` and the JVM exits only once it reads EOF on stdin,
    so closing that pipe ends it; anything still running afterwards gets
    SIGTERM, then SIGKILL at the deadline."""
    deadline = time.time() + STOP_TIMEOUT_S
    _end_jvm()
    proc = _jvm()
    if proc is not None:
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass  # signalled below
    termed: set[int] = set()
    while kids := _children():
        late = time.time() > deadline
        for pid in kids:
            if late or pid not in termed:
                termed.add(pid)
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # already reaped
                pass
        time.sleep(0.05)


class Context:
    """Run parameters plus the shared session and tracer."""

    def __init__(self, args, workdir: str, t_process: float):
        self.t_process = t_process
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workdir = workdir
        self.spark = None
        self.tracer = None
        self.report: list[str] = []  # readable lines printed before the JSON
        self.ledger: list[dict] = []  # traced run: one row per query or micro-batch

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def start_spark(self):
        from etl_wikipedia_updates_spark.session import get_spark

        extra = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            from tracing import EVENT_LOG_CONF

            os.makedirs(self.path("eventlog"), exist_ok=True)
            extra.update(EVENT_LOG_CONF)
            extra["spark.eventLog.dir"] = "file://" + self.path("eventlog")
        span = self.tracer.span("session.get_spark") if self.tracer else nullcontext()
        with span:
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=extra)
        self.session_start_s = time.time() - self.t_process
        if self.tracer is not None:
            self.tracer.count_py4j(self.spark)
        return self.spark

    def add_report(self, header: str, named: dict[str, tuple[float, str]]) -> None:
        """Readable report lines: a header, then one metric per line."""
        self.report.append(header)
        for name, (value, unit) in named.items():
            self.report.append(f"  {name:<44} {value:>14.4f} {unit}")

    def mark_ready(self) -> None:
        """Set-up ends here: session started and warm-up done."""
        self.setup_s = time.time() - self.t_process


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the
    Spark JVM it launched."""

    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        return 0

    total = hwm("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += hwm(proc.pid)
    return total / 2**20
