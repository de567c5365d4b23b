#!/usr/bin/env python3
"""Count the non-blank, non-comment source lines of src/main and src/test.

Usage: python3 scripts/loc.py [REV]

Prints the counts for the working tree. With REV (any git revision),
also prints the counts at REV, read through `git show` without a
checkout, and the delta (working tree minus REV).

A line counts unless it is blank, a `//` line comment, or inside (or
opening) a `/* ... */` block comment, scaladoc included. Code that
follows a closing `*/` on the same line does not count; the sources
do not do that.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")
EXTS = (".scala", ".java")


def count(text: str) -> int:
    n, in_block = 0, False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            n += 1
    return n


def tree_counts() -> dict:
    out = {}
    for root in ROOTS:
        total = 0
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith(EXTS):
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        total += count(fh.read())
        out[root] = total
    return out


def git(*args: str) -> str:
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def rev_counts(rev: str) -> dict:
    out = {}
    for root in ROOTS:
        paths = [p for p in git("ls-tree", "-r", "--name-only", rev, "--", root).splitlines()
                 if p.endswith(EXTS)]
        out[root] = sum(count(git("show", f"{rev}:{p}")) for p in paths)
    return out


def main() -> None:
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    now = tree_counts()
    if len(sys.argv) < 2:
        for root in ROOTS:
            print(f"{root:9} {now[root]:7}")
        return
    rev = sys.argv[1]
    then = rev_counts(rev)
    print(f"{'':9} {rev[:12]:>12} {'tree':>7} {'delta':>7}")
    for root in ROOTS:
        print(f"{root:9} {then[root]:12} {now[root]:7} {now[root] - then[root]:+7}")


if __name__ == "__main__":
    main()
