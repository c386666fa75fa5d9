"""Run-time scaffolding shared by the workloads: the timed region, spans
around calls into each layer, the per-operation record the end-to-end
metrics are computed from, and the Spark session's confs and teardown.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import measure

# Operations slower than this count as failed (timed out), on top of raised
# exceptions and failed output checks.
OP_TIMEOUT_S = 60.0
DRIVER_MEMORY = "3g"  # the driver JVM's heap, which holds the local[4] executor


@dataclass
class Bench:
    """One run's state: the session, the work directory and every number
    the run reports."""

    spark: object
    workdir: str
    timed_s: float = 0.0  # wall time inside timed regions
    cpu_s: float = 0.0  # process-tree CPU inside timed regions
    steal_ticks: int = 0  # machine-wide CPU steal inside timed regions
    all_ticks: int = 0
    items: int = 0  # activities, documents or queries processed
    op_latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    span_s: dict[str, float] = field(default_factory=dict)
    aliases: dict[str, str] = field(default_factory=dict)  # job group -> layer
    layer: dict[str, float] = field(default_factory=dict)  # workload counters

    @contextmanager
    def timed(self):
        """Time a region: wall clock and the CPU of the whole process tree
        (driver, JVM, Python workers)."""
        cpu0 = measure.tree_cpu_seconds()
        steal0, all0 = measure.cpu_steal()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.timed_s += time.perf_counter() - t0
            self.cpu_s += measure.tree_cpu_seconds() - cpu0
            steal1, all1 = measure.cpu_steal()
            self.steal_ticks += steal1 - steal0
            self.all_ticks += all1 - all0

    @contextmanager
    def span(self, layer: str, group: str | None = None):
        """Time one call into ``layer``; its Spark jobs run under the job
        group ``group`` (default: the layer name)."""
        self.spark.sparkContext.setJobGroup(group or layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.span_s[layer] = self.span_s.get(layer, 0.0) + time.perf_counter() - t0
            self.spark.sparkContext.setJobGroup("bench", "untimed")

    def op(self, latency_s: float | None, problem: str | None = None) -> None:
        """Record one operation; ``problem`` says why it failed (an
        exception or a wrong output). A missing latency means the
        operation never completed."""
        self.attempted += 1
        if latency_s is not None:
            self.op_latencies.append(latency_s)
            if problem is None and latency_s > OP_TIMEOUT_S:
                problem = f"timed out after {latency_s:.1f}s"
        if problem is not None:
            self.failed += 1
            self.failures.append(problem)

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def op_p50_s(self) -> float:
        return statistics.median(self.op_latencies)

    def end_to_end(self, setup_s: float, peak_rss_mb: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "items_per_s": (self.items / self.timed_s, "1/s"),
            "op_p50_s": (self.op_p50_s(), "s"),
            "cpu_ms_per_item": (1000 * self.cpu_s / self.items, "ms"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }


def settle(max_s: float = 4.0, step_s: float = 0.25, busy_cores: float = 0.3) -> None:
    """Wait until the process tree is nearly idle, so that compilation the
    warm-up queued (JIT threads keep working after the last job returns)
    does not run inside the first timed region. Gives up after ``max_s``."""
    deadline = time.perf_counter() + max_s
    while time.perf_counter() < deadline:
        c0 = measure.tree_cpu_seconds()
        time.sleep(step_s)
        if (measure.tree_cpu_seconds() - c0) / step_s < busy_cores:
            return


def spark_conf(workdir: str, trace: bool) -> dict[str, str]:
    """Session confs for a run: every scratch path inside the run's work
    directory, and, when tracing, an uncompressed event log there too."""
    conf = {
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # No hsperfdata file under /tmp either. A fixed heap shape (all of
        # the heap committed, a fixed young generation) keeps peak RSS from
        # following G1's pause-time-driven resizing: with the default
        # adaptive sizing, peak RSS of identical runs spread by 29% between
        # quartiles on doc_ingest (local[4], 4 cores), with this shape by 3%.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -Xmn768m"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                # reading a zstd-compressed log would need the zstandard module
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()  # it must not outlive the run
        proc.wait(timeout=30)
