#!/usr/bin/env python3
"""Per-query job-count deltas between two graft.PlanDump runs.

Usage: python3 tools/jobdiff.py <parent.log> <change.log>

Each log is the output of `runMain graft.PlanDump <outDir> <q> ...`; only
its `PLANDUMP <name> ... jobs=N parses=P ... evalJobs=E` lines are read.
For every query in both logs, the build jobs (`jobs`), evaluation jobs
(`evalJobs`) and manifest parses (`parses`) are compared, and each query
whose counts differ is printed with its deltas, then a total per count.

The exit status is non-zero if any count rises on any query, except on
the queries whose counts depend on what ran earlier in the same JVM
(`embed_canonical`, `split_leak_free`, `dedup_canonical`): a rise there
is printed as noise and does not fail. A query in only one of the logs
is listed and fails the run too.
"""
import re
import sys

NOISE = {"embed_canonical", "split_leak_free", "dedup_canonical"}
COUNTS = ("jobs", "evalJobs", "parses")
LINE = re.compile(r"^PLANDUMP (\S+) (.*)$")


def parse(path):
    out = {}
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = LINE.match(line.strip())
            if not m:
                continue
            fields = dict(kv.split("=", 1) for kv in m.group(2).split()
                          if "=" in kv)
            out[m.group(1)] = {k: int(fields[k]) for k in COUNTS
                               if k in fields and fields[k].isdigit()}
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change = parse(argv[1]), parse(argv[2])
    if not parent or not change:
        print("no PLANDUMP lines in " +
              (argv[1] if not parent else argv[2]), file=sys.stderr)
        return 2
    failed = False
    totals = {k: [0, 0] for k in COUNTS}
    for name in sorted(set(parent) | set(change)):
        if name not in parent or name not in change:
            print(f"{name}: only in {'change' if name in change else 'parent'}")
            failed = True
            continue
        p, c = parent[name], change[name]
        deltas = []
        rose = False
        for k in COUNTS:
            if k not in p or k not in c:
                continue
            totals[k][0] += p[k]
            totals[k][1] += c[k]
            if p[k] != c[k]:
                deltas.append(f"{k} {p[k]} -> {c[k]} ({c[k] - p[k]:+d})")
                rose |= c[k] > p[k]
        if deltas:
            tag = ""
            if rose and name in NOISE:
                tag = "  [noise: depends on JVM history]"
            elif rose:
                tag = "  [ROSE]"
                failed = True
            print(f"{name}: " + ", ".join(deltas) + tag)
    print("total: " + ", ".join(
        f"{k} {p} -> {c} ({c - p:+d})" for k, (p, c) in totals.items()))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
