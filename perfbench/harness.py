"""Run context, Spark session and end-to-end metric arithmetic shared by
every workload.

One process, one client, closed loop: the next op starts only after the
previous one returned. The session is sized to the machine (``local[n]``
with ``n`` usable cores, ``n`` shuffle partitions) and the driver heap to a
quarter of physical memory, capped at 4 GiB.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from tracing import Tracer


@dataclass
class Op:
    """One timed op: a query, an ingest cycle or a micro-batch trigger."""

    name: str
    latency_s: float
    ok: bool
    rows: int = 0


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    process_start: float
    # the benchmark's own work before the first timed op (input tables),
    # left out of setup_s
    own_s: float = 0.0
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    first_op_at: float | None = None
    ops: list[Op] = field(default_factory=list)
    timed_wall_s: float = 0.0
    # wall time of each timed pass (query mixes) or cycle (ingest)
    pass_s: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_timing(self) -> float:
        now = time.perf_counter()
        if self.first_op_at is None:
            self.first_op_at = now
        return now

    def fail(self, what: str) -> None:
        self.notes.append(what)

    def end_pass(self, t0: float) -> None:
        """Close the pass that began where the previous one ended."""
        self.pass_s.append(time.perf_counter() - t0 - sum(self.pass_s))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4096, total_kb // 1024 // 4))}m"


def start_session(ctx: Context, app: str):
    """``session.get_spark`` with machine-sized settings; every scratch path
    Spark or Python would write to points into the run directory."""
    from ecommerce_data_pipeline_spark.session import get_spark

    n = cores()
    tmp = ctx.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    spark = get_spark(
        app,
        cpus=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": driver_memory(),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # Parallel GC with a fixed young generation: under G1's adaptive
            # sizing the peak RSS of one run varied from 1.56 to 2.14 GB
            # with query order alone. Spark puts these default options
            # before spark.driver.extraJavaOptions, which stays the
            # program's, so JVM options get_spark sets still apply.
            "spark.driver.defaultJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:+UseParallelGC -Xmn256m"),
            "spark.sql.warehouse.dir": ctx.path("spark-warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a mean of all order
    statistics weighted by the Beta(p(n+1), (1-p)(n+1)) mass of each rank.
    A query mix has a few latency levels with gaps between them, so the
    plain sample median jumps between levels from run to run; on the
    passes of one run this estimate varied a third less."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # Beta CDF at i/n by the midpoint rule; a, b >= 1 for the p used here
    steps = 200 * n
    t = (np.arange(steps) + 0.5) / steps
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    cdf /= cdf[-1]
    w = np.diff(cdf[np.arange(n + 1) * (steps // n)])
    return float(w @ x)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 samples above
    it, as (value, percentile, sample count). Below 22 samples that
    percentile would fall under the median, so the upper median's
    percentile is used. The value is the Harrell-Davis estimate there."""
    n = len(latencies)
    k = max(n - 11, n // 2)
    p = (k + 1) / (n + 1)
    return hd_quantile(latencies, p), 100.0 * p, n


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus the driver JVM it
    launched (``VmHWM``, the kernel's high-water mark)."""
    me = os.getpid()
    total_kb = _hwm_kb(me)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[1]) == me and _comm(pid) == "java":
                total_kb += _hwm_kb(int(pid))
        except (OSError, IndexError, ValueError):
            continue  # process exited while we looked
    return total_kb / 1024.0


def _comm(pid: str) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "ok_frac": "fraction",
}


def end_to_end(ctx: Context) -> tuple[dict[str, float], str]:
    """The end-to-end metrics of a run, plus a note on the tail sample."""
    ok = [o for o in ctx.ops if o.ok]
    lat = [o.latency_s for o in ok] or [float("nan")]
    tail_v, tail_p, tail_n = tail(lat)
    wall = ctx.timed_wall_s
    metrics = {
        "setup_s": ctx.first_op_at - ctx.process_start - ctx.own_s,
        "op_p50_s": hd_quantile(lat, 0.5),
        "op_tail_s": tail_v,
        "ops_per_s": len(ok) / wall,
        "rows_per_s": sum(o.rows for o in ok) / wall,
        "peak_rss_mb": peak_rss_mb(),
        "ok_frac": len(ok) / len(ctx.ops),
    }
    return metrics, f"op_tail_s is p{tail_p:.1f} of {tail_n} ops"
