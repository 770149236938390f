#!/usr/bin/env python3
"""Compare two directories of `graft.ExplainQuery` plan dumps.

Usage:
    tools/plan_diff.py BEFORE_DIR AFTER_DIR [--diff]

`ExplainQuery <outDir> <suffix> <queries>` writes `<query>_<suffix>.txt`
per query. Dumps are paired by query name (the suffix shared by every file
of a directory is stripped) and normalised before comparison, so that only
plan changes remain:

- expression ids (`c_name#346`, `obj#19584`) and exchange plan ids
  (`plan_id=647`) are renumbered in order of first appearance per dump;
- RDD ids and call sites (`MapPartitionsRDD[88] at map at X.scala:51`)
  become `MapPartitionsRDD[*]`;
- lambda class names (`X$$$Lambda$7718/0x00007f33a5c3e430`) lose their
  numbers and object hashes (`@4b25fd9b`) are masked;
- the process id in the queries' scratch directories
  (`/tmp/graft-gate-<pid>-<query>`) is masked.

Prints each query whose normalised dumps differ (with a unified diff under
--diff) and each query found on one side only, then a summary line. Exits 1
if any query differs or is unpaired, 0 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

RDD = re.compile(r"(\w*RDD)\[\d+\] at \S+ at [\w.$]+:\d+")
LAMBDA = re.compile(r"\$\$Lambda\$?\d*/0x[0-9a-f]+")
HASH = re.compile(r"@[0-9a-f]{4,}\b")
GATE_DIR = re.compile(r"graft-gate-\d+-")
IDS = re.compile(r"(#|plan_id=)(\d+)")


def normalise(text):
    text = LAMBDA.sub("$$Lambda", RDD.sub(r"\1[*]", text))
    text = GATE_DIR.sub("graft-gate-*-", HASH.sub("@*", text))
    ids = {"#": {}, "plan_id=": {}}

    def renumber(m):
        seen = ids[m.group(1)]
        return m.group(1) + str(seen.setdefault(m.group(2), len(seen)))

    return IDS.sub(renumber, text)


def dumps(directory):
    """Maps query name to path, stripping the suffix all files share."""
    files = sorted(f for f in os.listdir(directory) if f.endswith(".txt"))
    suffixes = {f[f.rfind("_"):] for f in files if "_" in f}
    strip = len(suffixes) == 1 and all("_" in f for f in files)
    return {(f[:f.rfind("_")] if strip else f[:-4]): os.path.join(directory, f)
            for f in files}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--diff", action="store_true",
                    help="print a unified diff of each differing dump")
    a = ap.parse_args()
    before, after = dumps(a.before), dumps(a.after)
    bad = 0
    for q in sorted(before.keys() | after.keys()):
        if q not in before or q not in after:
            print(f"only in {'after' if q in after else 'before'}: {q}")
            bad += 1
            continue
        with open(before[q]) as b, open(after[q]) as c:
            old, new = normalise(b.read()), normalise(c.read())
        if old != new:
            print(f"differs: {q}")
            bad += 1
            if a.diff:
                sys.stdout.writelines(difflib.unified_diff(
                    old.splitlines(True), new.splitlines(True),
                    before[q], after[q]))
    paired = len(before.keys() & after.keys())
    print(f"{paired} paired dumps, {bad} differing or unpaired")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
