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
  (`/tmp/graft-gate-<pid>-<query>`) is masked;
- the distinct-aggregate groups of an `Expand` with a `gid` column are put
  in one order. Spark numbers them in the iteration order of a hash map
  keyed by expression ids, so the same plan can list them in another order
  when earlier queries in the JVM used up a different number of ids. The
  distinct columns are sorted by name, everywhere they appear as a run
  (output lists, keys, partitioning), the group rows are sorted, and the
  `gid` literals (`(gid#7 = 2)`) are renumbered to match.

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
EXPAND = re.compile(r"^(\(\d+\) Expand\n.*\nArguments: )(.*)$", re.M)
GID = re.compile(r"gid#\d+$")


def split_top(text):
    """Splits `a, f(b, c), [d, e]` at the commas outside brackets."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(text):
        depth += (c in "([") - (c in ")]")
        if depth == 0 and text.startswith(", ", i):
            parts.append(text[start:i])
            start = i + 2
    return parts + [text[start:]]


def unbracket(text):
    return split_top(text[1:-1])


def no_ids(text):
    return re.sub(r"#\d+", "", text)


def canonical_expand(text):
    """Puts the distinct-aggregate groups of each gid Expand in one order."""
    for m in list(EXPAND.finditer(text)):
        rows_text, out_text = split_top(m.group(2))
        rows = [unbracket(r) for r in unbracket(rows_text)]
        out = unbracket(out_text)
        g = next((i for i, a in enumerate(out) if GID.search(a)), None)
        if g is None:
            continue
        cols = [i for i in range(g) if any(r[i] == "null" for r in rows)]
        order = list(range(len(out)))
        for i, j in zip(cols, sorted(cols, key=lambda i: no_ids(out[i]))):
            order[i] = j
        rows = [[r[j] for j in order] for r in rows]
        groups = sorted((r for r in rows if r[g] != "0"),
                        key=lambda r: no_ids(", ".join(r[:g])))
        gids = {r[g]: str(k) for k, r in enumerate(groups, 1)}
        rows = [r[:g] + [gids.get(r[g], r[g])] + r[g + 1:]
                for r in rows if r[g] == "0"] + \
            [r[:g] + [gids[r[g]]] + r[g + 1:] for r in groups]
        run_old = ", ".join(out[i] for i in cols)
        run_new = ", ".join(out[order[i]] for i in cols)
        args = "[" + ", ".join("[" + ", ".join(r) + "]" for r in rows) + \
            "], [" + ", ".join(out[j] for j in order) + "]"
        text = text.replace(m.group(0), m.group(1) + args)
        if run_old:
            text = text.replace(run_old, run_new)
        gid = re.escape(out[g])
        text = re.sub(r"\(%s = (\d+)\)" % gid,
                      lambda x: "(%s = %s)" % (out[g], gids.get(x.group(1),
                                                              x.group(1))),
                      text)
    return text


def normalise(text):
    text = canonical_expand(text)
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
