"""Steadiness check: run workloads repeatedly, each run with its own seed,
and report every end-to-end metric's median, quartiles and spread
(interquartile distance over median) against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads star_queries batch_ingest \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --out perfbench/results/set_a.json
    python3 perfbench/steady.py --compare perfbench/results/set_a.json \\
        perfbench/results/set_b.json

A metric is steady when its spread is below a third of its bound
(``setup_s`` is exempt from the spread rule). Two sets of runs of the
same code agree when, for every metric, the second median is not worse
than the first by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_set(workloads: list[str], seeds: list[int], seconds: int) -> dict:
    out: dict[str, list[dict]] = {w: [] for w in workloads}
    for w in workloads:
        for s in seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(s), "--seconds", str(seconds), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True, check=False)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            if proc.returncode != 0 or not last.startswith("{"):
                raise SystemExit(f"{w} seed {s}: exit {proc.returncode}\n{proc.stdout}")
            res = json.loads(last)
            res["seed"] = s
            out[w].append(res)
            vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
            print(f"{w} seed={s} correct={res['correct']} {vals}", flush=True)
    return out


def summarize(runs: dict) -> dict:
    spec = _spec()
    report: dict[str, dict] = {}
    ok = True
    for w, results in runs.items():
        report[w] = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            steady = m["name"] == "setup_s" or spread < m["bound"] / 3
            ok &= steady
            report[w][m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                    "spread": spread, "bound": m["bound"], "steady": steady}
            print(f"{w:<14} {m['name']:<12} median {med:>12.5g} {m['unit']:<9} "
                  f"q1 {q1:>12.5g} q3 {q3:>12.5g} spread {spread:7.2%} "
                  f"(bound {m['bound']:.0%}) {'ok' if steady else 'UNSTEADY'}")
        report[w]["all_correct"] = all(r["correct"] for r in results)
        ok &= report[w]["all_correct"]
    report["steady"] = ok
    return report


def compare(a: dict, b: dict) -> bool:
    """True when set b's medians are within each bound of set a's."""
    spec = _spec()
    agree = True
    for w in a["runs"]:
        for m in spec["end_to_end"]:
            ma, mb = a["summary"][w][m["name"]]["median"], b["summary"][w][m["name"]]["median"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            fine = worse <= m["bound"]
            agree &= fine
            print(f"{w:<14} {m['name']:<12} {ma:>12.5g} -> {mb:>12.5g} "
                  f"worse by {worse:7.2%} (bound {m['bound']:.0%}) {'ok' if fine else 'DISAGREE'}")
    return agree


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    if a.compare:
        with open(a.compare[0]) as f, open(a.compare[1]) as g:
            return 0 if compare(json.load(f), json.load(g)) else 1
    workloads = a.workloads or [w["name"] for w in _spec()["workloads"]]
    runs = run_set(workloads, a.seeds, a.seconds or _spec()["run_seconds"])
    summary = summarize(runs)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1)
    return 0 if summary["steady"] else 1


if __name__ == "__main__":
    sys.exit(main())
