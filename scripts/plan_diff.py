#!/usr/bin/env python3
"""Diff two Spark plan dumps modulo the ids that change from run to run.

Usage: plan_diff.py A B

A and B are two plan dumps (for example two `runMain graft.Explain`
outputs), or two directories, in which case every file present in
either is compared by name. Before diffing, each line is normalized:

  - expression ids            name#123L        -> name#N
  - plan ids                  plan_id=7, [id=#12] -> plan_id=N, [id=#N]
  - RDD ids                   MapPartitionsRDD[42] -> MapPartitionsRDD[N]
  - lambda variable counters  lambda x_17      -> lambda x_N
  - JVM lambda classes        Foo$$$Lambda$6092/0x00007f6015… -> Foo$$$Lambda$N/0xH
  - object hashes             Foo@1a2b3c       -> Foo@H
  - call sites                Dedup.scala:884  -> Dedup.scala:N
  - UUIDs                     3c22f49c-fb03-…  -> <uuid>  (streaming run ids)

Prints a unified diff of the normalized text and exits 1 when the dumps
differ, 0 when they are identical after normalization, 2 on bad usage.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"),
     "<uuid>"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\$Lambda(?:\$\d+)?/0x[0-9a-f]+"), "$Lambda$N/0xH"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\b(\w+\.(?:scala|java)):\d+"), r"\1:N"),
]


def normalize(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def read(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return [normalize(l) for l in f]


def diff_files(a, b):
    """Unified diff lines of two normalized dumps (empty when equal)."""
    return list(difflib.unified_diff(read(a), read(b), fromfile=a, tofile=b))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    if os.path.isdir(a) and os.path.isdir(b):
        names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
        pairs = [(os.path.join(a, n), os.path.join(b, n)) for n in names]
    elif os.path.isfile(a) and os.path.isfile(b):
        pairs = [(a, b)]
    else:
        print(f"plan_diff: need two files or two directories: {a} {b}",
              file=sys.stderr)
        return 2
    differ = False
    for x, y in pairs:
        if not (os.path.isfile(x) and os.path.isfile(y)):
            print(f"only in one side: {x if os.path.exists(x) else y}")
            differ = True
            continue
        lines = diff_files(x, y)
        if lines:
            sys.stdout.writelines(lines)
            differ = True
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
