#!/usr/bin/env python3
"""Count source lines under src/main: every line that is not blank, not a
`//` comment line and not a scaladoc line (`/**`, `*`, `*/`).

Prints the total, then the 10 largest files by that count.

Usage: python3 tools/loc.py [repoRoot]   (default: the parent of tools/)
"""
import os
import sys


def counted(line):
    s = line.strip()
    return bool(s) and not s.startswith(("//", "/**", "*"))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    main_dir = os.path.join(root, "src", "main")
    counts = {}
    for d, _, files in os.walk(main_dir):
        for f in files:
            if f.endswith((".scala", ".java")):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts[os.path.relpath(p, root)] = sum(
                        counted(l) for l in fh)
    print(f"{sum(counts.values()):,} src/main")
    for p, n in sorted(counts.items(), key=lambda kv: -kv[1])[:10]:
        print(f"{n:>7,} {p}")


if __name__ == "__main__":
    main()
