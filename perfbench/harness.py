"""Run context shared by the workloads: directories, the Spark session,
the tracer and the correctness tally."""

from __future__ import annotations

import os
import shutil
import signal
import time

import measure

#: files at most this big are one task each: Spark packs a file into a
#: split together with ``openCostInBytes`` (4 MiB by default), so with a
#: split cap equal to it every small input file is its own task and an
#: input of many files runs in several waves
_SPLIT_BYTES = 4 * 2**20


class Bench:
    def __init__(self, root: str, workload: str, seed: int, seconds: int,
                 trace: bool):
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = measure.nproc()
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.work = os.path.join(root, ".perfbench_out", self.run_id)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        self.tracer = measure.Tracer(self.run_id, enabled=trace)
        self.spark = None
        self.event_log_dir = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def clean(self) -> None:
        """Delete the run's inputs and outputs; run records stay."""
        for name in os.listdir(self.work):
            p = self.path(name)
            if os.path.isdir(p):
                shutil.rmtree(p)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, n_attempted: int, n_failed: int, what: str) -> None:
        """Tally ``n_attempted`` checked items of which ``n_failed`` failed."""
        self.attempted += n_attempted
        self.failed += n_failed
        if n_failed:
            self.problems.append(f"{what}: {n_failed}/{n_attempted} failed")

    # -- Spark ------------------------------------------------------------

    def start_spark(self, cores: int, event_log: bool = False):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            # the workloads hold tens of MB at a time. The heap is small
            # and touched whole at start, so the JVM's RSS does not wander
            # with garbage-collector timing from run to run
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={self.tmp} -Xms1g "
                    "-XX:+AlwaysPreTouch")
            .config("spark.local.dir", self.tmp)
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.default.parallelism", str(cores))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", str(_SPLIT_BYTES))
        )
        if event_log:
            self.event_log_dir = self.path("eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + self.event_log_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def job_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def event_log(self) -> str:
        """Path of the event log of the (stopped) traced session."""
        (name,) = os.listdir(self.event_log_dir)
        return os.path.join(self.event_log_dir, name)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until every process this run
        started has ended."""
        from pyspark import SparkContext

        started = [p for p in measure.process_tree(os.getpid())
                   if p != os.getpid()]
        self.stop_spark()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — must not leave the JVM
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            alive = [p for p in started if os.path.exists(f"/proc/{p}")
                     and not _is_zombie(p)]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"
