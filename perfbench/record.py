"""What one benchmark run measured and checked."""

from __future__ import annotations

import resource
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Run:
    """What one run measured and checked."""

    spark: object
    seed: int
    seconds: float
    tracer: object
    work: str
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    latencies_ms: list = field(default_factory=list)
    untraced_ms: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    jobs_by_shape: dict = field(default_factory=dict)
    samples: list = field(default_factory=list)  # (query shape, traced, ms)
    e2e: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)

    def verify(self, what: str, problems: list[str]) -> None:
        """Count one checked operation; any problem makes it a failed one."""
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(f"{what}: {'; '.join(problems[:3])}")

    def end_window(self, t_start: float) -> None:
        """Close the timed window opened at ``t_start``: note its length and
        ``driver_peak_rss_mb``, the driver JVM's VmHWM plus this Python
        process's ru_maxrss, read before the oracle and the checks
        allocate."""
        self.facts["timed_s"] = time.perf_counter() - t_start
        jvm = self.spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.facts.update(jvm_peak_rss_mb=jvm_kb / 1024, python_peak_rss_mb=py_kb / 1024)
        self.e2e["driver_peak_rss_mb"] = (jvm_kb + py_kb) / 1024

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def note_jobs(self, shape: str, jobs: int) -> None:
        """Recomputation guard: one query shape must launch the same number
        of Spark jobs every time it runs in a run."""
        seen = self.jobs_by_shape.setdefault(shape, set())
        seen.add(jobs)


@contextmanager
def timed_phase(run: Run, name: str):
    """Add the seconds spent inside the block to ``run.setup[name]``."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        run.setup[name] = run.setup.get(name, 0.0) + time.perf_counter() - t0
