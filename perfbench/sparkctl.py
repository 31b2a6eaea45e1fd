"""Spark session lifecycle for one benchmark process.

The session is built through the package's own ``session.get_spark`` with
the heap and core count derived from the host (``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_GRAFT_CPUS`` and an explicit ``local[N]``). Every file Spark or its
JVM writes lands under the run's work directory. ``close`` stops the
session and waits for the JVM to exit, killing it if it does not: an
orphaned JVM keeps running its last job and poisons the next measurement.
"""

from __future__ import annotations

import os
import signal
import subprocess


class SparkRun:
    def __init__(self, work: str, cores: int, heap_mb: int, event_log: bool = False):
        self.work = work
        self.cores = cores
        self.heap_mb = heap_mb
        self.event_log_dir = os.path.join(work, "eventlog") if event_log else None
        self.spark = None
        self.jvm: subprocess.Popen | None = None
        self.jvm_pid: int | None = None

    def start(self, app_name: str):
        from hypertrace_ingester_spark import session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        heap = f"{self.heap_mb}m"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
        # the launcher JVM, the Spark JVM and the Python workers it forks
        # inherit this environment, so none of them writes outside the run
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": session._driver_java_opts(heap),
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = session.get_spark(
            app_name=app_name, master=f"local[{self.cores}]", extra_conf=conf
        )
        gateway = self.spark.sparkContext._gateway
        self.jvm = getattr(gateway, "proc", None)
        self.jvm_pid = self.jvm.pid if self.jvm is not None else None
        return self.spark

    def event_log_path(self) -> str | None:
        if not self.event_log_dir:
            return None
        names = [n for n in os.listdir(self.event_log_dir) if not n.startswith(".")]
        return os.path.join(self.event_log_dir, names[0]) if len(names) == 1 else None

    def close(self) -> None:
        """Stop the session and end the JVM, waiting for it to exit."""
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
        finally:
            self._reap_jvm()

    def _reap_jvm(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.jvm
        if proc is None:
            return
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.send_signal(signal.SIGKILL)
            proc.wait(timeout=15)
        self.jvm = None

