#!/usr/bin/env python3
"""Lines of the main sources that sit in a repeated window of code.

Usage:
    tools/dup_scan.py [REV]

Reads the files under src/main that git tracks (plus untracked ones it does
not ignore) in sorted path order, from the working tree or, given REV, as
committed at REV (read with `git show REV:path`). Each line is trimmed of
whitespace, and a leading `|` (the margin of a SQL string) is dropped and
the rest trimmed again. A window is 6 consecutive lines; it counts only when
every line is longer than 8 characters and none starts with `//`, `*` or
`/*`, so blank lines, braces and comments break windows. A line is counted
once when it belongs to a counted window that appeared earlier in the same
or an earlier file. Prints the count of every file that has one, then the
total.
"""
import subprocess
import sys

WINDOW = 6
MIN_LEN = 8
COMMENT = ("//", "*", "/*")


def git(*args):
    return subprocess.run(("git",) + args, check=True, stdout=subprocess.PIPE,
                          text=True).stdout


def trim(line):
    line = line.strip()
    return line[1:].strip() if line.startswith("|") else line


def counted(window):
    return all(len(l) > MIN_LEN and not l.startswith(COMMENT) for l in window)


def scan(sources):
    """Maps each (path, text) in order to its count of repeated lines."""
    seen, out = set(), {}
    for path, text in sources:
        lines = [trim(l) for l in text.splitlines()]
        hit = set()
        for i in range(len(lines) - WINDOW + 1):
            window = tuple(lines[i:i + WINDOW])
            if not counted(window):
                continue
            if window in seen:
                hit.update(range(i, i + WINDOW))
            seen.add(window)
        out[path] = len(hit)
    return out


def sources(rev):
    if rev:
        files = git("ls-tree", "-r", "--name-only", rev, "src/main").split()
        return [(f, git("show", f"{rev}:{f}")) for f in sorted(files)]
    files = git("ls-files", "--cached", "--others", "--exclude-standard",
                "src/main").split()
    out = []
    for f in sorted(files):
        try:
            with open(f, encoding="utf-8") as fh:
                out.append((f, fh.read()))
        except FileNotFoundError:   # deleted, not yet staged
            pass
    return out


def main(argv):
    counts = scan(sources(argv[0] if argv else None))
    for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        if n:
            print(f"{n:6}  {path}")
    print(f"{sum(counts.values()):6}  total ({argv[0] if argv else 'working tree'})")


if __name__ == "__main__":
    main(sys.argv[1:])
