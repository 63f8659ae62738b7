#!/usr/bin/env python3
"""Normalized clone scan of the package's Python source.

Every .py file under iceberg_classifier_spark/ is normalized: blank lines
and lines that start with '#' are dropped, and runs of whitespace collapse
to one space. A window is 8 consecutive normalized lines of one file; a
line is duplicated when it lies in a window whose text occurs at least
twice in the package. Prints the duplicated-line total and how many of
those lines lie inside a string literal that spans more than one row:
oracle SQL and docstrings. A one-row literal, such as the quoted column
name in `.groupBy("word")`, leaves its line counted as code. Then prints
the same two counts per module, largest first, for every module with a
duplicated line.

Usage: python scripts/clone_scan.py
"""
import io, os, re, tokenize
from collections import defaultdict

WINDOW = 8
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "iceberg_classifier_spark")


def string_rows(src):
    """Source rows inside string literals that span more than one row."""
    # Python 3.12+ splits an f-string into FSTRING_START ... FSTRING_END
    fstart = getattr(tokenize, "FSTRING_START", None)
    fend = getattr(tokenize, "FSTRING_END", None)
    rows, opened = set(), []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == fstart:
            opened.append(tok.start[0])
            continue
        if tok.type == fend:
            first = opened.pop()
        elif tok.type == tokenize.STRING:
            first = tok.start[0]
        else:
            continue
        if tok.end[0] > first:
            rows.update(range(first, tok.end[0] + 1))
    return rows


def main():
    files = {}
    for d, _, names in sorted(os.walk(PKG)):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path) as f:
                    src = f.read()
                lines = [(i, re.sub(r"\s+", " ", s).strip()) for i, s in enumerate(src.splitlines(), 1)]
                files[path] = ([(i, s) for i, s in lines if s and not s.startswith("#")], string_rows(src))
    seen = defaultdict(list)
    for path, (lines, _) in files.items():
        for k in range(len(lines) - WINDOW + 1):
            seen["\n".join(s for _, s in lines[k : k + WINDOW])].append((path, k))
    dup = set()
    for places in seen.values():
        if len(places) > 1:
            for path, k in places:
                dup.update((path, i) for i, _ in files[path][0][k : k + WINDOW])
    in_str = sum(1 for path, i in dup if i in files[path][1])
    print(f"duplicated lines: {len(dup)} ({in_str} in multi-line string literals, {len(dup) - in_str} other)")
    per = defaultdict(lambda: [0, 0])
    for path, i in dup:
        per[path][0] += 1
        per[path][1] += i in files[path][1]
    for path, (n, s) in sorted(per.items(), key=lambda kv: (-kv[1][0], kv[0])):
        print(f"  {os.path.relpath(path, PKG)}: {n} ({s} in strings)")


if __name__ == "__main__":
    main()
