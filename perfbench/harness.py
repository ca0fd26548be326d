"""One benchmark run: work directory, Spark session, phases, output
checks and clean shutdown.

Everything a run writes stays inside the checkout: inputs, indexes,
Spark scratch space and the event log go under ``.perfbench_work/``
(removed when the run ends), and the span dump of a traced run goes
under ``.perfbench_out/``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager
from pathlib import Path

from .spans import SPARK_FIELDS, Tracer, read_event_log, spark_window, vm_hwm_mb

#: phase-name prefix of the traced half of a ``--trace 1`` run
TRACED = "trace/"


class Run:
    def __init__(self, root: Path, workload: str, seed: int, seconds: float,
                 trace: bool, toy: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.toy = toy
        self.work = root / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse"):
            (self.work / sub).mkdir(parents=True)
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.checks = 0
        #: phase name -> [(start, end)] in epoch seconds, for attributing
        #: event-log jobs and tasks to the phase that issued them
        self.windows: dict[str, list[tuple[float, float]]] = {}
        self.tracer = Tracer()
        self.spark = None
        #: wall seconds of the first :meth:`start_spark`, part of ``setup_s``
        self.session_s = 0.0
        self._events = None

    # -- session ---------------------------------------------------------

    def start_spark(self, event_log: bool):
        """Start the program's own session (``plans.get_spark``) in a
        new JVM at ``local[nproc]``, with scratch space inside the work
        directory and, given ``event_log``, the Spark event log (one
        event-logged session per run)."""
        t0 = time.perf_counter()
        root = str(self.root)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
        confs = {
            "spark.local.dir": self.work / "spark-local",
            "spark.sql.warehouse.dir": self.work / "warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            (self.work / "eventlog").mkdir()
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work / 'eventlog'}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            })
        args = [f"--conf {k}={v}" for k, v in confs.items()]
        # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>,
        # outside the checkout, whatever java.io.tmpdir says
        args.append(
            f"--driver-java-options '-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData'"
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
        sys.path.insert(0, root)

        from mecab_ko_lucene_analyzer_spark.plans import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{self.cpus}]"
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if not self.session_s:
            self.session_s = time.perf_counter() - t0
        return self.spark

    def peak_rss_mb(self) -> float:
        """Driver Python plus driver JVM peak resident set size."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb() + vm_hwm_mb(jvm_pid)

    def stop(self) -> None:
        """Stop Spark and the JVM it launched, and wait for both to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        parent = self.work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()

    # -- phases, operations and checks -------------------------------------

    @contextmanager
    def phase(self, name: str):
        """Label the Spark jobs of ``name`` (job group) and record its
        time window for the event-log attribution."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"perfbench {self.workload}: {name}")
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.setdefault(name, []).append((t0, time.time()))
            sc.setJobGroup("perfbench", f"perfbench {self.workload}")

    @contextmanager
    def timed(self, name: str):
        """One operation inside phase ``name``; yields a dict that gets
        its wall seconds under ``"s"`` when the operation completes."""
        self.attempted += 1
        box: dict[str, float] = {}
        with self.phase(name):
            t0 = time.perf_counter()
            yield box
            box["s"] = time.perf_counter() - t0

    def jobs_in_group(self, name: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(name))

    def fail(self, exc: BaseException) -> None:
        """Count an operation that raised; the run goes on."""
        self.failed += 1
        print(f"# operation failed: {type(exc).__name__}: {exc}"[:400], flush=True)

    def check(self, ok: bool, what: str) -> None:
        """Record one output check, run outside the timed region; a
        mismatch counts as a failed operation."""
        self.checks += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {what}", flush=True)

    # -- event log ---------------------------------------------------------

    def spark_totals(self, *names: str) -> dict[str, float]:
        """Spark work inside every window of the given phases (traced
        runs only; the log is read after the session stops)."""
        if self._events is None:
            self._events = read_event_log(self.work / "eventlog")
        jobs, tasks = self._events
        total = dict.fromkeys(SPARK_FIELDS, 0.0)
        for name in names:
            for t0, t1 in self.windows.get(name, []):
                for k, v in spark_window(jobs, tasks, t0, t1).items():
                    total[k] += v
        return total

    def traced_phases(self) -> list[str]:
        return [n for n in self.windows if n.startswith(TRACED)]
