#!/usr/bin/env python3
"""Diff two sets of tools/explain_dump.scala outputs, ignoring run noise.

explain_dump.scala writes <query>_<tag>.txt (a plan too large to keep as
text may be stored gzipped, as <query>_<tag>.txt.gz). This script pairs
every <query>_<before>.txt with <query>_<after>.txt in one directory, normalises
what changes between JVMs without changing the plan, and prints a unified
diff per query whose plans differ:

  - expression ids:           doc_id#123L  -> doc_id#<id>L
  - exchange plan ids:        [plan_id=306] -> [plan_id=<n>]
  - JVM object/lambda names:  UnsafeArrayData@582dcbb3, $$Lambda/0x7f..
  - random temp-dir suffixes: graft_scratch14309020419273866402

Usage:
  python3 tools/plan_diff.py plans/r18                  # before vs after
  python3 tools/plan_diff.py DIR --before old --after new

Exit status: 0 when every pair matches, 1 on any difference or unpaired
file, 2 when no pair is found.
"""
import argparse
import difflib
import gzip
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"\$\$Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?"), "$$Lambda<addr>"),
    (re.compile(r"(?<=[A-Za-z0-9_$])@[0-9a-f]{4,}\b"), "@<addr>"),
    (re.compile(r"(?<=[A-Za-z_])\d{10,}"), "<tmp>"),
]


def normalise(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def pairs(directory, before, after):
    suffix_b, suffix_a = f"_{before}.txt", f"_{after}.txt"
    names = sorted(n[: -len(".gz")] if n.endswith(".gz") else n for n in os.listdir(directory))
    befores = {n[: -len(suffix_b)] for n in names if n.endswith(suffix_b)}
    afters = {n[: -len(suffix_a)] for n in names if n.endswith(suffix_a)}
    return sorted(befores & afters), sorted(befores ^ afters)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir")
    ap.add_argument("--before", default="before")
    ap.add_argument("--after", default="after")
    args = ap.parse_args()

    matched, unpaired = pairs(args.dir, args.before, args.after)
    if not matched:
        print(f"no <query>_{args.before}.txt / <query>_{args.after}.txt pairs in {args.dir}")
        return 2
    differing = []
    for q in matched:
        texts = []
        for tag in (args.before, args.after):
            path = os.path.join(args.dir, f"{q}_{tag}.txt")
            if os.path.exists(path + ".gz"):
                f = gzip.open(path + ".gz", "rt", encoding="utf-8")
            else:
                f = open(path, encoding="utf-8")
            with f:
                texts.append(normalise(f.read()).splitlines(keepends=True))
        diff = list(difflib.unified_diff(*texts, f"{q}_{args.before}", f"{q}_{args.after}"))
        if diff:
            differing.append(q)
            sys.stdout.writelines(diff)
        print(f"{'DIFF' if diff else 'same'}  {q}")
    for q in unpaired:
        print(f"UNPAIRED  {q}")
    print(f"{len(matched) - len(differing)}/{len(matched)} plans unchanged"
          + (f", {len(unpaired)} unpaired" if unpaired else ""))
    return 1 if differing or unpaired else 0


if __name__ == "__main__":
    sys.exit(main())
