#!/usr/bin/env python3
"""Census of copy-pasted code in the Scala sources.

Method:
  * every `.scala` file under the given roots (default: src/main) is read
    line by line; blank lines and comment lines (starting with `//`,
    `/*` or `*`) are dropped and runs of whitespace collapse to one space;
  * an 8-line window of the remaining lines counts when its joined text
    is at least 120 characters long;
  * a window whose text occurs twice or more (in one file or across
    files) marks its 8 lines as duplicated.

Duplicated windows are grouped into families: consecutive duplicated
windows at one place form a run, and runs that share a window text are
one family. A family's covered lines are the lines its runs span; its
removable lines are what is left when one copy (the longest run) stays.

Prints one row per family (covered, removable, where the copies sit and
which query definitions enclose them), then the totals. A measurement
only: it gates nothing.

    python3 tools/clone_census.py [root ...]
"""
import argparse
import collections
import os
import re
import sys

QUERY_RE = re.compile(r'QueryDef\(\s*"([^"]+)"')
WINDOW = 8
MIN_CHARS = 120
VAL_RE = re.compile(r'^\s*(?:private\s+|lazy\s+|private\[\w+\]\s+)*(?:val|def)\s+(\w+)')


def scala_files(roots):
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith('.scala'):
                    yield os.path.join(dirpath, n)


def normalized(path):
    """[(original line number, normalized text)] minus blanks and comments."""
    out = []
    with open(path, encoding='utf-8') as f:
        for i, raw in enumerate(f, 1):
            t = ' '.join(raw.split())
            if not t or t.startswith(('//', '/*', '*')):
                continue
            out.append((i, t))
    return out


def enclosing_names(path):
    """Line number -> name of the nearest QueryDef (or val/def) above it."""
    names = {}
    current = None
    with open(path, encoding='utf-8') as f:
        for i, raw in enumerate(f, 1):
            m = QUERY_RE.search(raw)
            if m:
                current = m.group(1)
            elif raw.startswith('  ') and not raw.startswith('   '):
                v = VAL_RE.match(raw)
                if v:
                    current = v.group(1)
            names[i] = current
    return names


def census(roots):
    files = {p: normalized(p) for p in scala_files(roots)}
    where = collections.defaultdict(list)  # window text -> [(path, index)]
    for p, lines in files.items():
        for k in range(len(lines) - WINDOW + 1):
            text = '\n'.join(t for _, t in lines[k:k + WINDOW])
            if len(text) - (WINDOW - 1) >= MIN_CHARS:
                where[text].append((p, k))
    dup = {t: locs for t, locs in where.items() if len(locs) >= 2}
    dup_at = {(p, k): t for t, locs in dup.items() for p, k in locs}

    # runs: maximal stretches of consecutive duplicated window starts
    runs = []
    for p, lines in files.items():
        ks = sorted(k for (q, k) in dup_at if q == p)
        start = prev = None
        for k in ks + [None]:
            if k is not None and prev is not None and k == prev + 1:
                prev = k
                continue
            if start is not None:
                runs.append((p, start, prev))
            start = prev = k
    parent = list(range(len(runs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    owner = {}
    for r, (p, a, b) in enumerate(runs):
        for k in range(a, b + 1):
            t = dup_at[(p, k)]
            if t in owner:
                parent[find(r)] = find(owner[t])
            else:
                owner[t] = r
    fams = collections.defaultdict(list)
    for r in range(len(runs)):
        fams[find(r)].append(runs[r])

    enclosing = {p: enclosing_names(p) for p in files}
    rows = []
    for members in fams.values():
        spans = []
        for p, a, b in members:
            lines = files[p]
            first, last = a, b + WINDOW - 1
            spans.append((p, lines[first][0], lines[last][0], last - first + 1,
                          sorted({enclosing[p][lines[i][0]] or '?' for i in (first, last)})))
        covered = sum(s[3] for s in spans)
        removable = covered - max(s[3] for s in spans)
        rows.append((removable, covered, spans))
    rows.sort(key=lambda r: (-r[0], -r[1]))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('roots', nargs='*', default=['src/main'])
    args = ap.parse_args()
    rows = census(args.roots)
    for n, (removable, covered, spans) in enumerate(rows, 1):
        print(f'family {n}: covered {covered}, removable {removable}')
        for p, lo, hi, cnt, names in spans:
            print(f'    {os.path.relpath(p)}:{lo}-{hi} ({cnt} lines) in {", ".join(names)}')
    print(f'TOTAL families {len(rows)}, duplicated lines {sum(r[1] for r in rows)}, '
          f'removable {sum(r[0] for r in rows)}')


if __name__ == '__main__':
    sys.exit(main())
