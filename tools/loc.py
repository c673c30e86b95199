#!/usr/bin/env python3
"""Line count of src/main, per file and in total, between two revisions.

Usage: tools/loc.py [rev] [--worktree]

Counts every file under src/main at HEAD (or, with --worktree, as checked
out on disk, uncommitted edits included) against the same tree at `rev`
(default HEAD~1). For each side it prints total lines and code lines:
lines that are neither blank nor comment (`//` line comments and
`/* ... */` blocks, scaladoc included). Files whose counts differ are
listed one per line, then the totals and their differences.
"""
import os
import subprocess
import sys

ROOT = "src/main"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout


def files_at(rev):
    """{path: text} of every file under ROOT at `rev` (None = on disk)."""
    if rev is None:
        out = {}
        for d, _, names in os.walk(ROOT):
            for n in names:
                p = os.path.join(d, n)
                with open(p, encoding="utf-8", errors="replace") as f:
                    out[p] = f.read()
        return out
    paths = git("ls-tree", "-r", "--name-only", rev, "--", ROOT).decode().split("\n")
    return {p: git("show", f"{rev}:{p}").decode("utf-8", "replace") for p in paths if p}


def counts(text):
    """(total lines, code lines) of one source text."""
    total = code = 0
    in_block = False
    for raw in text.splitlines():
        total += 1
        line = raw.strip()
        has_code = False
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            elif line.startswith("/*"):
                in_block = True
                line = line[2:]
            else:
                has_code = True
                break
        code += has_code
    return total, code


def main(argv):
    worktree = "--worktree" in argv
    args = [a for a in argv if a != "--worktree"]
    rev = args[0] if args else "HEAD~1"
    old = {p: counts(t) for p, t in files_at(rev).items()}
    new = {p: counts(t) for p, t in files_at(None if worktree else "HEAD").items()}
    head = "worktree" if worktree else "HEAD"
    print(f"{'file':<58} {'total':>17} {'code':>17}")
    for p in sorted(set(old) | set(new)):
        o, n = old.get(p, (0, 0)), new.get(p, (0, 0))
        if o != n:
            print(f"{p[len(ROOT) + 1:]:<58} {o[0]:>5} -> {n[0]:>5} {n[0] - o[0]:+5}"
                  f" {o[1]:>5} -> {n[1]:>5} {n[1] - o[1]:+5}")
    ot = [sum(v[i] for v in old.values()) for i in (0, 1)]
    nt = [sum(v[i] for v in new.values()) for i in (0, 1)]
    print(f"{'total (' + rev + ' -> ' + head + ')':<58} {ot[0]:>5} -> {nt[0]:>5} {nt[0] - ot[0]:+5}"
          f" {ot[1]:>5} -> {nt[1]:>5} {nt[1] - ot[1]:+5}")


if __name__ == "__main__":
    main(sys.argv[1:])
