"""One Spark session per benchmark run: start it through the program's
``get_spark``, observe it from outside, and end it so that no process
the run started outlives the run.

Observation stays outside the program:

- ``ProgressLog`` is a ``StreamingQueryListener`` the benchmark registers;
  it keeps every ``StreamingQueryProgress`` and signals termination.
- With tracing on, Spark's own event log is written into the run's work
  directory and parsed after the session has stopped (``eventlog.py``).
"""

from __future__ import annotations

import os
import signal
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: environment marker inherited by the JVM and its Python workers, so the
#: run can find every process it started, whoever their parent is now
MARKER = "PERFBENCH_RUN"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class ProgressLog(StreamingQueryListener):
    """Collects StreamingQueryProgress reports, each with the CPU time
    ``clock()`` read when it arrived, and query terminations."""

    def __init__(self, clock) -> None:
        self.clock = clock
        self.progress: list = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self.started.add(str(event.id))

    def started_ids(self) -> set[str]:
        with self._cond:
            return set(self.started)

    def onQueryProgress(self, event) -> None:
        cpu = self.clock()
        with self._cond:
            self.progress.append((event.progress, cpu))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self.terminated.add(str(event.id))
            self._cond.notify_all()

    def take(self, query_ids: set[str], timeout: float = 60.0) -> list:
        """Wait until every query in ``query_ids`` reported termination,
        then return (and forget) their (progress, cpu) pairs, batch order."""
        with self._cond:
            if not self._cond.wait_for(
                lambda: query_ids <= self.terminated, timeout
            ):
                raise RuntimeError(
                    f"no onQueryTerminated within {timeout}s for {query_ids}"
                )
            mine = [p for p in self.progress if str(p[0].id) in query_ids]
            self.progress = [
                p for p in self.progress if str(p[0].id) not in query_ids
            ]
        return sorted(mine, key=lambda p: (str(p[0].runId), p[0].batchId))


class Engine:
    """The Spark session of one run, with its listener and its JVM."""

    def __init__(self, work_dir: str, trace: bool) -> None:
        self.work_dir = work_dir
        self.trace = trace
        self.event_log_dir = os.path.join(work_dir, "eventlog")
        self.spark = None
        self.jvm_pid: int | None = None
        self.progress = ProgressLog(self.cpu_s)

    def start(self):
        from funding_monitoring_spark.session import get_spark

        n = cpu_count()
        java_opts = (
            f"-Djava.io.tmpdir={self.work_dir}/tmp "
            f"-Dderby.system.home={self.work_dir} -XX:-UsePerfData"
        )
        conf = {
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(self.work_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=conf,
        )
        jvm = self.spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.spark.streams.addListener(self.progress)
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM and by this process."""
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        own = os.times()
        return jvm + own.user + own.system

    def set_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def clear_group(self) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def stop(self) -> None:
        """Stop streams and the session, then end the gateway JVM and wait
        for it; finally reap any marked process still alive, whatever
        failed before."""
        try:
            if self.spark is not None:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
        finally:
            try:
                end_gateway()
            finally:
                reap_marked()


def end_gateway(timeout_s: float = 120.0) -> None:
    """Shut the py4j gateway down and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin pipe closes
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None


def marked_pids(marker: str = MARKER, value: str | None = None) -> list[int]:
    """Live processes (other than this one) whose environment carries
    ``marker=value`` (any value when ``value`` is None)."""
    needle = f"{marker}={value}".encode() if value else f"{marker}=".encode()
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
            with open(f"/proc/{entry}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state == "Z":
            continue
        if any(kv.startswith(needle) for kv in env):
            found.append(int(entry))
    return found


def reap_marked(grace_s: float = 15.0) -> None:
    """Wait for this run's marked processes to end; terminate, then kill,
    any that outlive the grace period."""
    value = os.environ.get(MARKER)
    if not value:
        return
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in marked_pids(MARKER, value):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            if not marked_pids(MARKER, value):
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes still alive: {marked_pids(MARKER, value)}")
