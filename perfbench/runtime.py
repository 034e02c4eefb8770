"""Process plumbing shared by the workloads: environment, the Spark
session life cycle, memory and the load probe."""

from __future__ import annotations

import os
import resource
import sys
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def configure_env(work: Path) -> int:
    """Point every scratch path into ``work`` and size the session to
    the machine, before the JVM starts. Returns the CPU count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata file: the JVM would put it under /tmp whatever the
    # temp dir is
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return cpus


@dataclass
class Runtime:
    work: Path
    seed: int
    seconds: int
    cpus: int
    tracer: object | None = None  # spans.Tracer on a traced run
    spark: object | None = None
    record: dict = field(default_factory=dict)  # per-run record
    attempted: int = 0
    failed: int = 0

    def count(self, ok: bool, what: str) -> bool:
        """One operation or correctness check, for ``attempted`` and
        ``failed``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.record.setdefault("failures", []).append(what)
            print(f"FAILED: {what}", file=sys.stderr)
        return ok

    def set_phase(self, phase: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = phase

    def span(self, name: str, **attrs):
        import contextlib

        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def get_spark(self):
        from inpe_queimadas_etl_spark import session

        conf = None
        if self.tracer is not None:
            log_dir = self.tracer.event_log_dir
            log_dir.mkdir(parents=True, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = session.get_spark(extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the driver JVM."""
        from pyspark import SparkContext

        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop_spark()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def load_probe(marker: bool = True) -> dict:
    """bench.py's load probe (and machine-speed marker), for reading a
    noisy window after the fact."""
    import bench

    out = {"loadavg": bench._loadavg()}
    if marker:
        out["cpu_marker"] = bench._cpu_marker()
    return out


def percentile(values, q: float) -> float:
    """Nearest-rank percentile on sorted ``values``."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def tail_percentile(values) -> tuple[int, float] | None:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    n = len(values)
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return None
