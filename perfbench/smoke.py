"""Smoke test of the benchmark itself, at tiny size.

    python3 perfbench/smoke.py

Runs each case in its own process (one JVM per case) with the inputs
shrunk: sf0.001 tables, one ingest cycle, a one-trigger queue. It checks
that

- BENCHMARK.json names exactly the metrics the code reports, with the
  same units;
- a clean run of each benchmark workload passes its gate and emits every
  end-to-end metric, and the traced runs together measure every
  per-layer metric;
- a deliberately wrong result fails the gate: a query returning one row
  too few, a query without an oracle whose repeat differs, an ingest
  cycle that drops a fact, a stream that lands one fact too few.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _shrink() -> None:
    import workloads

    workloads.QUERY_SF = 0.001
    workloads.INGEST_PRODUCTS = 100
    workloads.INGEST_CUSTOMERS = 200
    workloads.INGEST_FACTS = 1_000
    workloads.INGEST_WARMUP_CYCLES = 0
    workloads.STREAM_ROWS_PER_TRIGGER = 40
    workloads.STREAM_TRACE_TRIGGERS = 1


def _tamper(case: str) -> None:
    """Make the engine return a wrong result for one op of ``case``."""
    if case == "star_queries":
        from dataclasses import replace

        from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

        q = REGISTRY["q6_forecast_revenue"]
        REGISTRY[q.name] = replace(q, fn=lambda spark, d: q.fn(spark, d).limit(0))
    elif case == "curation":
        from dataclasses import replace

        from ecommerce_data_pipeline_spark.plans.registry import REGISTRY

        q = REGISTRY["minhash_lsh_neardup"]
        calls = []

        def drifting(spark, d):
            calls.append(1)
            df = q.fn(spark, d)
            return df if len(calls) == 1 else df.limit(0)

        REGISTRY[q.name] = replace(q, fn=drifting)
    elif case == "batch_ingest":
        from ecommerce_data_pipeline_spark.operators import generators

        original = generators.generate_transactions

        def short(spark, n, *a, **kw):
            df = original(spark, n, *a, **kw)
            return df.limit(n - 1)

        generators.generate_transactions = short
    elif case == "stream_ingest":
        from pyspark.sql import functions as F

        from ecommerce_data_pipeline_spark.streaming import flagship

        original = flagship.enrich_transactions
        # drops queue message 0, the only id ending in -00000
        flagship.enrich_transactions = lambda b, p, c: original(b, p, c).where(
            ~F.col("transaction_id").endswith("-00000"))


def child(case: str, trace: bool, tamper: bool) -> None:
    sys.path.insert(0, HERE)
    import run

    _shrink()
    if tamper:
        sys.path.insert(0, ROOT)
        _tamper(case)
    ctx, e2e, _ = run.execute(case, seed=3, seconds=0, trace=trace)
    print(json.dumps({
        "e2e": e2e,
        "layer": sorted(ctx.layer),
        "failed": sum(not o.ok for o in ctx.ops),
        "notes": ctx.notes,
    }))


def _case(case: str, trace: bool, tamper: bool) -> dict:
    cmd = [sys.executable, __file__, "--child", case, str(int(trace)), str(int(tamper))]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, check=False, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{case}: exit {proc.returncode}\n{proc.stdout}")
    return json.loads(lines[-1])


def main() -> int:
    sys.path.insert(0, HERE)
    from layers import END_TO_END, PER_LAYER

    problems: list[str] = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if {m["name"]: m["unit"] for m in spec["end_to_end"]} != END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from harness.END_TO_END_UNITS")
    if {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} != PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from layers.PER_LAYER")

    measured: set[str] = set()
    for w in (w["name"] for w in spec["workloads"]):
        r = _case(w, trace=True, tamper=False)
        print(f"{w}: clean run, {r['failed']} failed ops, notes {r['notes']}")
        if r["failed"] or r["notes"]:
            problems.append(f"{w}: clean run failed the gate: {r['notes']}")
        missing = [k for k in END_TO_END if not r["e2e"].get(k)]
        if missing:
            problems.append(f"{w}: end-to-end metrics missing or zero: {missing}")
        measured |= set(r["layer"])
    unmeasured = sorted(set(PER_LAYER) - measured)
    if unmeasured:
        problems.append(f"per-layer metrics no traced run measures: {unmeasured}")

    for w in ("star_queries", "curation", "batch_ingest", "stream_ingest"):
        r = _case(w, trace=False, tamper=True)
        print(f"{w}: tampered run, {r['failed']} failed ops, notes {r['notes']}")
        if not r["failed"] or r["e2e"]["ok_frac"] >= 1.0:
            problems.append(f"{w}: a wrong result passed the gate")

    for p in problems:
        print(f"FAIL {p}")
    print("smoke ok" if not problems else f"smoke FAILED ({len(problems)} problems)")
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3] == "1", sys.argv[4] == "1")
    else:
        sys.exit(main())
