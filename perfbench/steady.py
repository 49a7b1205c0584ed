"""Steadiness check for the benchmark: run workloads over several seeds
and report, per end-to-end metric, the median and the quartile spread
((q3 - q1) / median, quartiles from ``statistics.quantiles(n=4)``).

    python3 perfbench/steady.py --seeds 101-110 --out perfbench/results/set1.json
    python3 perfbench/steady.py --compare perfbench/results/set1.json perfbench/results/set2.json

Run from the root of a checkout. ``--compare`` reports, per workload
and metric, how far the second set's median moved in the worse
direction, against the metric's bound in BENCHMARK.json; comparing an
untraced set with a traced one (``--trace 1``) gives the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def run_sets(workloads: list[str], seeds: list[int], trace: int, seconds: int) -> dict:
    spec = _spec()
    runs = []
    for seed in seeds:
        for w in workloads:
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "rc": p.returncode, "wall_s": wall}
            if p.returncode == 0 and len(lines) >= 2:
                rec["result"] = json.loads(lines[-1])
                rec["detail"] = json.loads(lines[-2])
            else:
                rec["stderr_tail"] = p.stderr[-2000:]
            runs.append(rec)
            res = rec.get("result", {})
            print(f"{w} seed={seed} rc={p.returncode} wall={wall:.1f}s correct={res.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()
                             if k in {m['name'] for m in spec['end_to_end']}), flush=True)
    summary: dict = {}
    for w in workloads:
        ok = [r for r in runs if r["workload"] == w and "result" in r]
        # the detail line carries the end-to-end numbers in traced runs
        # too, so a traced set compares with an untraced one (overhead)
        summary[w] = {
            "runs": len([r for r in runs if r["workload"] == w]),
            "correct": sum(r["result"]["correct"] for r in ok),
            "wall_s": summarize([r["wall_s"] for r in ok]) if len(ok) > 1 else None,
            "metrics": {m["name"]: summarize([r["detail"]["end_to_end"][m["name"]] for r in ok])
                        for m in spec["end_to_end"] if len(ok) > 1},
        }
    return {"seeds": seeds, "trace": trace, "seconds": seconds, "runs": runs, "summary": summary}


def compare(a_path: str, b_path: str) -> dict:
    """Per workload and metric: the first and second medians, the move
    in the worse direction as a share of the first, and the bound."""
    spec = {m["name"]: m for m in _spec()["end_to_end"]}
    with open(a_path) as f:
        a = json.load(f)["summary"]
    with open(b_path) as f:
        b = json.load(f)["summary"]
    out: dict = {}
    for w in a:
        for n in spec:
            ma = a[w]["metrics"].get(n)
            mb = b.get(w, {}).get("metrics", {}).get(n)
            if ma is None or mb is None:
                continue
            sign = 1 if spec[n]["better"] == "lower" else -1
            worse = sign * (mb["median"] - ma["median"]) / ma["median"]
            out.setdefault(w, {})[n] = {
                "first": ma["median"], "second": mb["median"], "worse_by": worse,
                "bound": spec[n]["bound"], "within": worse <= spec[n]["bound"],
                "spreads": [ma["spread"], mb["spread"]],
            }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="all")
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args()
    if args.compare:
        print(json.dumps(compare(*args.compare), indent=1))
        return 0
    spec = _spec()
    workloads = ([w["name"] for w in spec["workloads"]] if args.workloads == "all"
                 else args.workloads.split(","))
    res = run_sets(workloads, _seeds(args.seeds), args.trace, args.seconds or spec["run_seconds"])
    print(json.dumps(res["summary"], indent=1))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
