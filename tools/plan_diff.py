#!/usr/bin/env python3
"""Plan-identity check: compare two `graft.Explain` dumps query by query.

    sbt "runMain graft.Explain" > before.txt     # on the old code
    sbt "runMain graft.Explain" > after.txt      # on the new code
    python3 tools/plan_diff.py before.txt after.txt

Each dump is split on its `=== name ===` headers (anything before the
first header, e.g. sbt's log, is ignored). What changes from run to run
without the plan changing is normalized away before comparing:

  - expression ids (`col#123`, `#123L`) and exchange ids (`plan_id=7`);
  - RDD ids and source positions of checkpointed frames
    (`MapPartitionsRDD[81] at localCheckpoint at Text.scala:698`), which
    move with any edit to the source file or any earlier query;
  - JVM lambda class names and object identity hashes
    (`Frequent$$$Lambda$5390/0x00007f15bd428000@6089c1e3`);
  - temp-dir paths a query wrote while it was built
    (`/tmp/graft-gates-123/q456/t/data/<uuid>/m=2001`), whose file
    listing order is the file system's.

Prints each query whose plan differs (with the first differing line of
both sides), and queries present on one side only. Exits 1 if any
differ, 0 if every plan is identical.
"""
import argparse
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"([\w$]+)@[0-9a-f]+\b"), r"\1@H"),
    (re.compile(r"(?:file:)?/tmp/[^\s,\]]*"), "/tmp/..."),
]


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def split_plans(path):
    plans, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = HEADER.match(line.strip())
            if m:
                name = m.group(1)
                plans[name] = []
            elif name is not None:
                plans[name].append(normalize(line))
    return {n: [l for l in ls if l] for n, ls in plans.items()}


def first_difference(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i, x, y
    i = min(len(a), len(b))
    return i, (a[i] if i < len(a) else "<end>"), (b[i] if i < len(b) else "<end>")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("before")
    p.add_argument("after")
    args = p.parse_args()
    before, after = split_plans(args.before), split_plans(args.after)
    differ = 0
    for name in sorted(set(before) | set(after)):
        if name not in after or name not in before:
            side = "before" if name in before else "after"
            print(f"ONLY IN {side.upper()}: {name}")
            differ += 1
        elif before[name] != after[name]:
            i, x, y = first_difference(before[name], after[name])
            print(f"DIFFERS: {name} (line {i + 1})\n  - {x}\n  + {y}")
            differ += 1
    same = len(set(before) & set(after)) - sum(
        1 for n in set(before) & set(after) if before[n] != after[n])
    print(f"plan_diff: {same} identical, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
