#!/usr/bin/env python3
"""Line counts of a change, for src/main and src/test.

Usage: python3 tools/net_lines.py <base-rev>            # base vs the working tree
       python3 tools/net_lines.py <base-rev>..<head-rev> # base vs a commit

For each of src/main and src/test it prints the raw added and removed lines
that `git diff --numstat` reports (files git does not track yet count as
added in the working-tree form), and the code lines before and after: the
lines of the .scala and .java files that are neither blank nor
comment-only (`//` lines and the lines of `/* ... */` blocks), in all and
per file whose count changed.
"""
import os
import re
import subprocess
import sys
from pathlib import Path

DIRS = ("src/main", "src/test")
CODE_SUFFIXES = (".scala", ".java")


def git(*args: str) -> str:
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


CHAR_LITERAL = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def code_lines(text: str) -> int:
    """Lines that are neither blank nor comment-only. String and char
    literals are skipped whole, so a `/*` inside one (a glob such as
    `sf0.01/*.parquet`) opens no comment; a triple-quoted string's lines are
    code."""
    n, depth, in_triple = 0, 0, False
    for line in text.splitlines():
        has_code, i = in_triple and bool(line.strip()), 0
        while i < len(line):
            if in_triple:
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple, i = False, end + 3
            elif depth:
                nxt = min((j for j in (line.find("/*", i), line.find("*/", i)) if j >= 0),
                          default=-1)
                if nxt < 0:
                    break
                depth += 1 if line.startswith("/*", nxt) else -1
                i = nxt + 2
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                has_code, in_triple, i = True, True, i + 3
            elif line[i] == '"':
                has_code, i = True, i + 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                m = CHAR_LITERAL.match(line, i) if line[i] == "'" else None
                has_code = has_code or not line[i].isspace()
                i = m.end() if m else i + 1
        n += has_code
    return n


def tree_files(rev, d: str):
    """(path, text) of the code files under `d` at `rev`, or on disk if
    `rev` is None (tracked and untracked, not ignored)."""
    if rev is None:
        names = git("ls-files", "--cached", "--others", "--exclude-standard", "--", d).split("\n")
        for name in filter(None, names):
            p = Path(name)
            if p.suffix in CODE_SUFFIXES and p.is_file():
                yield name, p.read_text(encoding="utf-8")
    else:
        for name in filter(None, git("ls-tree", "-r", "--name-only", rev, "--", d).split("\n")):
            if Path(name).suffix in CODE_SUFFIXES:
                yield name, git("show", f"{rev}:{name}")


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    base, _, head = sys.argv[1].partition("..")
    head = head or None
    for d in DIRS:
        added = removed = 0
        stat = git("diff", "--numstat", base, *([head] if head else []), "--", d)
        for row in filter(None, stat.split("\n")):
            a, r, _ = row.split("\t", 2)
            if a != "-":  # binary files have no line counts
                added, removed = added + int(a), removed + int(r)
        if head is None:
            for name in filter(None, git("ls-files", "--others", "--exclude-standard", "--", d).split("\n")):
                added += len(Path(name).read_text(encoding="utf-8", errors="replace").splitlines())
        before = {n: code_lines(t) for n, t in tree_files(base, d)}
        after = {n: code_lines(t) for n, t in tree_files(head, d)}
        b, a = sum(before.values()), sum(after.values())
        print(f"{d}: +{added} −{removed} raw lines; code lines {b} → {a} ({a - b:+d})")
        for name in sorted(before.keys() | after.keys()):
            delta = after.get(name, 0) - before.get(name, 0)
            if delta:
                print(f"  {name}: {delta:+d}")


if __name__ == "__main__":
    main()
