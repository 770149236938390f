#!/usr/bin/env python3
"""Code and comment line counts of the main sources.

Usage:
    tools/loc.py [REV]

Counts the files under src/main that git tracks (plus untracked ones it
does not ignore), in the working tree and, given REV, as committed at REV
(read with `git show REV:path`). Prints code lines and comment lines per
side; blank lines count as neither. With REV it also prints the change in
code lines of every file whose count changed, largest cut first.

A line is a comment line when it holds comment text and no code: `//` to
the end of the line, or anything inside `/* ... */` (scaladoc included,
nesting as in Scala). A line with code and a trailing comment is a code
line, and so is every line of a multi-line string. `//` and `/*` inside a
string or character literal start no comment.
"""
import subprocess
import sys


def count(text):
    """Returns (code lines, comment lines) of Scala or Java source text."""
    code = comment = 0
    depth = 0           # open /* */ comments
    string = None       # the open string's delimiter: '"' or '"""'
    i, n = 0, len(text)
    has_code = has_comment = False
    while i <= n:
        c = text[i] if i < n else "\n"
        if c == "\n":
            if has_code or string:
                code += 1
            elif has_comment:
                comment += 1
            has_code = has_comment = False
            i += 1
            continue
        if depth:
            has_comment = has_comment or not c.isspace()
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif string:
            has_code = True
            if string == '"' and c == "\\":
                i += 2
            elif text.startswith(string, i):
                i += len(string)
                string = None
            else:
                i += 1
        elif text.startswith("//", i):
            has_comment = True
            i = text.find("\n", i)
            i = n if i < 0 else i
        elif text.startswith("/*", i):
            has_comment, depth, i = True, 1, i + 2
        elif c == '"':
            has_code = True
            string = '"""' if text.startswith('"""', i) else '"'
            i += len(string)
        elif c == "'" and text.startswith("\\", i + 1):
            has_code = True
            i = text.find("'", i + 3) + 1 or n     # '\n', 'A'
        elif c == "'" and text.startswith("'", i + 2):
            has_code, i = True, i + 3              # 'a', '"'
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return code, comment


def git(*args):
    return subprocess.run(("git",) + args, check=True, stdout=subprocess.PIPE,
                          text=True).stdout


def tree_counts():
    files = git("ls-files", "--cached", "--others", "--exclude-standard",
                "src/main").split()
    out = {}
    for f in files:
        try:
            with open(f, encoding="utf-8") as fh:
                out[f] = count(fh.read())
        except FileNotFoundError:   # deleted, not yet staged
            pass
    return out


def rev_counts(rev):
    files = git("ls-tree", "-r", "--name-only", rev, "src/main").split()
    return {f: count(git("show", f"{rev}:{f}")) for f in files}


def totals(counts):
    return (sum(c for c, _ in counts.values()),
            sum(m for _, m in counts.values()))


def main(argv):
    now = tree_counts()
    rows = [("working tree", now)]
    if argv:
        rows.append((argv[0], rev_counts(argv[0])))
    print(f"{'':16} {'files':>6} {'code':>8} {'comment':>8}")
    for label, counts in rows:
        code, comment = totals(counts)
        print(f"{label:16} {len(counts):6} {code:8} {comment:8}")
    if argv:
        before = rows[1][1]
        (c1, m1), (c0, m0) = totals(now), totals(before)
        print(f"{'change':16} {len(now) - len(before):6} {c1 - c0:8} "
              f"{m1 - m0:8}")
        delta = {f: now.get(f, (0, 0))[0] - before.get(f, (0, 0))[0]
                 for f in set(now) | set(before)}
        print(f"\ncode lines by file (working tree - {argv[0]}):")
        for f, d in sorted(delta.items(), key=lambda kv: (kv[1], kv[0])):
            if d:
                print(f"{d:+8}  {f}")


if __name__ == "__main__":
    main(sys.argv[1:])
