#!/usr/bin/env python3
"""Compare two `graft.tools.ExplainDump` directories (before/after a change)
after masking what differs between any two runs of the same code.

Usage: python3 compare_dumps.py <before_dir> <after_dir>
Prints the dump count on each side, the files that still differ after
masking, and their differing lines. Exit status 1 when any file differs.
"""
import difflib
import os
import re
import sys

MASKS = [
    (r'#\d+', '#N'),                                   # expression ids
    (r'RDD\[\d+\]', 'RDD[N]'),                         # RDD ids
    (r'plan_id=\d+', 'plan_id=N'),                     # physical plan ids
    (r'RDD\[N\] at \S+ at \S+\.scala:\d+', 'RDD[N] at CALLSITE'),  # RDD creation site
    (r'file:/\S+?/(target|spark-warehouse)/', r'file:CHECKOUT/\1/'),  # checkout path
    (r'part-\d+-[0-9a-f-]{36}', 'part-N-UUID'),        # write-time file names
    (r'\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+', '$$Lambda@N'),  # lambda classes
    (r'(\w)@[0-9a-f]{5,8}\b', r'\1@HASH'),             # object identity hashes
]


def mask(text):
    for pattern, repl in MASKS:
        text = re.sub(pattern, repl, text)
    return text


def main(before, after):
    fa, fb = set(os.listdir(before)), set(os.listdir(after))
    print(f"{len(fa)} vs {len(fb)} dumps; only on one side: {sorted(fa ^ fb)}")
    differing = 0
    for f in sorted(fa & fb):
        ta = mask(open(os.path.join(before, f)).read()).splitlines()
        tb = mask(open(os.path.join(after, f)).read()).splitlines()
        if ta == tb:
            continue
        differing += 1
        lines = [l for l in difflib.unified_diff(ta, tb, lineterm='', n=0)
                 if l[:1] in '+-' and not l.startswith(('+++', '---'))]
        print(f"== {f}: {len(lines)} differing lines")
        print('\n'.join(lines[:8]))
    print(f"{differing} of {len(fa & fb)} differ after masking")
    return 1 if differing or fa != fb else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
