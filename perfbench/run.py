"""Benchmark entry point.

    python3 perfbench/run.py --workload star_queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run: generate the workload's inputs from ``--seed`` under a fresh
temporary directory inside ``perfbench/.tmp`` (tables, warehouse, landing
zone, checkpoints, Spark scratch), start one Spark session, warm up, time
ops for ``--seconds``, gate every result, then remove the directory.

Output: every metric by name, value and unit, one per line, then as the
last line a JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (a separate run, since tracing costs time). ``--workload all`` runs
each workload in its own process and prints every metric of each.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL = ("star_queries", "batch_ingest", "curation", "stream_ingest")


def _package_available() -> bool:
    return os.path.isfile(os.path.join(ROOT, "ecommerce_data_pipeline_spark", "__init__.py"))


def execute(workload: str, seed: int, seconds: float, trace: bool):
    """Run one workload in this process; returns (context, end-to-end
    metrics, note on the tail sample)."""
    # Spark's Python workers import the package too: give them the root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    from harness import Context, end_to_end
    from workloads import WORKLOADS

    os.makedirs(os.path.join(HERE, ".tmp"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=os.path.join(HERE, ".tmp"))
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    ctx = Context(seed=seed, seconds=seconds, trace=trace, run_dir=run_dir,
                  process_start=PROCESS_START)
    try:
        WORKLOADS[workload](ctx)
        e2e, tail_note = end_to_end(ctx)
        if trace:
            ctx.layer["trace.spans"] = len(ctx.tracer.spans)
            ctx.tracer.dump(os.path.join(HERE, ".tmp", f"spans-{workload}-{seed}.json"))
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    return ctx, e2e, tail_note


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload, print its metrics; returns the result object."""
    from layers import END_TO_END, PER_LAYER

    ctx, e2e, tail_note = execute(workload, seed, seconds, trace)
    if trace:
        units = {k: u for k, (u, _better) in PER_LAYER.items()}
        values = {k: float(ctx.layer.get(k, 0.0)) for k in PER_LAYER}
    else:
        units = END_TO_END
        values = e2e
    failed = sum(not o.ok for o in ctx.ops)
    for note in ctx.notes:
        print(f"gate: {note}")
    print(f"{workload} seed={seed}: {len(ctx.ops)} ops, {failed} failed; {tail_note}")
    if ctx.pass_s:
        print(f"  timed passes: {', '.join(f'{t:.3f}' for t in ctx.pass_s)} s")
    for k, v in values.items():
        print(f"  {k:<44} {v:>16.6g} {units[k]}")
    return {
        "correct": failed == 0 and not ctx.notes,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Each workload in a fresh process (its own JVM), metrics printed."""
    code = 0
    for w in ALL:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            print(f"{w}: exited with {proc.returncode}")
            code = 1
            continue
        res = json.loads(lines[-1])
        print(f"  correct={res['correct']} attempted={res['attempted']} failed={res['failed']}\n")
        code |= not res["correct"]
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=(*ALL, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not _package_available():
        print(f"ecommerce_data_pipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds, bool(a.trace))
    result = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
