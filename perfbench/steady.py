"""Steadiness of the benchmark's metrics across seeds.

    python3 perfbench/steady.py --runs 10 [--first-seed 1] [--log runs.jsonl]
                                [--against earlier.jsonl]

Runs every workload of BENCHMARK.json ``--runs`` times with its
``run_seconds``, untraced, one seed per run, alternating the workload
order from one repetition to the next. For every metric it prints the
median, the first and third quartiles
(``statistics.quantiles(values, n=4)``), the spread (third minus first
quartile, as a share of the median), the largest relative distance of
any run from the median and the metric's bound. These figures set the
bounds: each end-to-end metric's spread should stay below a third of
its bound. One JSON object per run goes to ``--log`` so the figures can
be recomputed.

``--against`` names the log of an earlier set of runs of the same code.
For every metric the table then also shows how much worse this set's
median is than that set's, as a share of the earlier median; two sets
agree when each stays below the bound.
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


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        check=True,
    ).stdout
    res = json.loads(out.strip().splitlines()[-1])
    res.update(workload=workload, seed=seed, wall_s=time.monotonic() - t0)
    return res


def summarize(results: list[dict]) -> dict[str, dict[str, dict[str, float]]]:
    out: dict[str, dict[str, dict[str, float]]] = {}
    for wl in sorted({r["workload"] for r in results}):
        runs = [r for r in results if r["workload"] == wl]
        table = {}
        for name in runs[0]["metrics"]:
            xs = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            table[name] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
                "max_dev": max(abs(x - med) for x in xs) / med if med else 0.0,
            }
        table["_runs"] = {
            "n": len(runs), "failed_share": sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs),
            "wall_s_median": statistics.median(r["wall_s"] for r in runs),
        }
        out[wl] = table
    return out


def worsening(now: dict, before: dict, better: str) -> float:
    """How much worse ``now``'s median is than ``before``'s, as a share of
    ``before``'s (negative when it is better)."""
    d = (now["median"] - before["median"]) / before["median"]
    return d if better == "lower" else -d


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--log", default=None, help="append one JSON line per run here")
    p.add_argument("--against", default=None, help="log of an earlier set of runs to compare with")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    before = None
    if a.against:
        with open(a.against) as f:
            before = summarize([json.loads(line) for line in f if line.strip()])
    results = []
    for i in range(a.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for wl in order:
            res = run_once(wl, a.first_seed + i, bench["run_seconds"])
            results.append(res)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps(res) + "\n")
            print(f"{wl} seed={res['seed']} correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} wall={res['wall_s']:.1f}s",
                  file=sys.stderr, flush=True)
    summary = summarize(results)
    for wl, table in summary.items():
        print(f"\n{wl}  ({table['_runs']['n']} runs, median run wall "
              f"{table['_runs']['wall_s_median']:.1f} s, failed share {table['_runs']['failed_share']}"
              + (f", earlier {before[wl]['_runs']['failed_share']}" if before and wl in before else "")
              + ")")
        print(f"  {'metric':26s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>7s} "
              f"{'max_dev':>7s} {'bound':>6s} {'worse':>7s}")
        for name, s in table.items():
            if name.startswith("_"):
                continue
            worse = ""
            if before is not None and name in before.get(wl, {}):
                worse = f"{worsening(s, before[wl][name], metrics[name]['better']):7.1%}"
            print(f"  {name:26s} {s['median']:11.4g} {s['q1']:11.4g} {s['q3']:11.4g} "
                  f"{s['spread']:7.1%} {s['max_dev']:7.1%} {metrics[name]['bound']:6.2f} {worse:>7s}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
