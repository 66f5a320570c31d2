"""Shared harness pieces: run context, session, statistics, sizes."""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """One benchmark run: arguments, its private directory, the session."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    spark: object = None
    tracer: object = None
    timings: dict = field(default_factory=dict)

    def dir(self, *parts: str) -> str:
        """A directory under the run dir, created on first use."""
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it
    (nearest rank), as (value, percentile). Below 20 samples that
    percentile would not exceed the median, so the 90th percentile is
    taken instead and the sample count is reported with it."""
    n = len(xs)
    if not n:
        return 0.0, 0.0
    s = sorted(xs)
    if n >= 20:
        k = n - 10  # 1-based rank with exactly ten samples above it
        return s[k - 1], 100.0 * k / n
    k = max(1, -(-9 * n // 10))
    return s[k - 1], 90.0


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def manifest(state_dir: str, v: int | None = None) -> dict:
    """A state table's manifest (the current one by default), read from
    its on-disk layout: ``CURRENT`` names the version, ``v<N>/MANIFEST.json``
    maps buckets to data directories."""
    if v is None:
        with open(os.path.join(state_dir, "CURRENT")) as fh:
            v = int(fh.read().strip())
    with open(os.path.join(state_dir, f"v{v}", "MANIFEST.json")) as fh:
        return json.load(fh)


def manifest_bytes(state_dir: str) -> int:
    """Bytes of the data files the current manifest references."""
    total = 0
    for rel in manifest(state_dir)["buckets"].values():
        for r in rel if isinstance(rel, list) else [rel]:
            d = os.path.join(state_dir, r)
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if not f.startswith(("_", "."))
            )
    return total


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_session(ctx: Ctx, extra: dict[str, str]):
    """The engine's standard session, with the harness's own confs:
    console progress off and every scratch path inside the run dir."""
    from cdc_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": ctx.dir("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.dir('tmp')} "
            f"-Xms{os.environ.get('SPARK_GRAFT_DRIVER_MEM', '2g')}"
        ),
        "spark.local.dir": ctx.dir("local"),
    }
    conf.update(extra)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{ctx.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.timings["session.start_s"] = time.perf_counter() - t0
    ctx.spark = spark
    return spark


def peak_rss_mb(spark) -> float:
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
