#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Run a workload K times, each with another seed, and print per metric the
median, the quartiles and the spread (q3 - q1) / median next to the
metric's bound from BENCHMARK.json:

    python3 perfbench/steady.py --workload cow_mix --runs 10 --seed0 100 \\
        --save .bench_build/steady/cow-a.json

Compare two saved sets: the second set's median may not be worse than the
first's by more than the bound. For a traced set against an untraced one
it also prints the tracing overhead (trace.<metric> minus <metric>):

    python3 perfbench/steady.py --compare A.json B.json

Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        b = json.load(f)
    metrics = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    return b, metrics


def run_once(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {out.returncode})")
    for l in lines[:-1]:
        print("   ", l[:220])
    return json.loads(lines[-1])


def summarize(results, metrics):
    names = list(results[0]["metrics"])
    rows = []
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        rows.append((n, med, q1, q3, spread, metrics.get(n, {}).get("bound")))
    return rows


def print_rows(rows):
    print(f"{'metric':40s} {'median':>14s} {'q1':>14s} {'q3':>14s} "
          f"{'spread':>8s} {'bound':>6s}  verdict")
    for n, med, q1, q3, spread, bound in rows:
        verdict = ""
        if bound is not None:
            verdict = ("ok (< bound/3)" if spread < bound / 3 else
                       "within bound" if spread <= bound else "TOO NOISY")
        b = f"{bound:6.2f}" if bound is not None else "     -"
        print(f"{n:40s} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.4f} {b}  {verdict}")


def compare(a_path, b_path, metrics):
    a, b = json.load(open(a_path)), json.load(open(b_path))
    ma = {n: med for n, med, *_ in summarize(a["results"], metrics)}
    mb = {n: med for n, med, *_ in summarize(b["results"], metrics)}
    print(f"{a_path} vs {b_path}")
    for n in ma:
        if n not in mb:
            continue
        m = metrics.get(n, {})
        worse = (mb[n] - ma[n]) / ma[n] if ma[n] else 0.0
        if m.get("better") == "higher":
            worse = -worse
        bound = m.get("bound")
        verdict = "" if bound is None else ("ok" if worse <= bound else "WORSE THAN BOUND")
        print(f"{n:40s} {ma[n]:14.4f} {mb[n]:14.4f} worse-by {worse:+8.4f} {verdict}")
    overhead = [(n[len("trace."):], mb[n]) for n in mb if n.startswith("trace.")]
    for n, traced in overhead:
        if n in ma:
            print(f"tracing overhead {n:28s} {traced - ma[n]:+14.4f} "
                  f"({(traced - ma[n]) / ma[n]:+.1%} of untraced)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    bench, metrics = spec()
    if a.compare:
        compare(*a.compare, metrics)
        return
    seconds = a.seconds or bench["run_seconds"]
    saved = {}
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        print(f"== {w}: {a.runs} runs, seeds {a.seed0}..{a.seed0 + a.runs - 1}, "
              f"--seconds {seconds} --trace {a.trace}")
        results = [run_once(w, a.seed0 + i, seconds, a.trace) for i in range(a.runs)]
        bad = [r for r in results if not r["correct"] or r["failed"]]
        print(f"   correct in {len(results) - len(bad)}/{len(results)} runs")
        print_rows(summarize(results, metrics))
        saved[w] = results
    if a.save:
        os.makedirs(os.path.dirname(os.path.abspath(a.save)), exist_ok=True)
        for w, results in saved.items():
            path = a.save if len(saved) == 1 else a.save.replace(".json", f"-{w}.json")
            with open(path, "w") as f:
                json.dump({"workload": w, "results": results}, f)


if __name__ == "__main__":
    main()
