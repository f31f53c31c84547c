#!/usr/bin/env python3
"""Compare two plan dumps, or two oracle_sql.json files, query by query.

Usage:
  tools/plan_diff.py <dumpA> <dumpB>
  tools/plan_diff.py <oracle_sql.json A> <oracle_sql.json B>

A plan dump is the stdout of `graft.tools.Explain`: one section per query,
headed `===================== <name> =====================`. An
oracle_sql.json (written by `graft.Verify`) maps each query name to its
DuckDB SQL.

Before comparing, every text is normalized for what changes from one JVM
to the next without a change in the plan:
  - expression ids (`#123`) and exchange plan ids (`plan_id=45`);
  - lambda-variable suffixes (`lambda x_12` -> `lambda x_N`);
  - JVM lambda class names (`$$Lambda$1234/0x…@1f2e3d`);
  - RDD ids (`MapPartitionsRDD[96]`) and the line of a call site
    (`localCheckpoint at Cut.scala:43`; the file name is kept);
  - per-process scratch dirs (`/tmp/graft_sources_15179`).

Queries that still differ are printed. A query whose two plans differ only
in the order of the columns around a distinct-aggregate `Expand` (the order
follows expression-id hashes, which depend on every plan built earlier in
the JVM) is listed separately: re-dump it alone, in a fresh JVM, on both
sides. Exit status 0 iff both inputs hold the same queries and none
differs.
"""
import json
import re
import sys
from collections import Counter

HEADER = re.compile(r"^={5,} (\S+) ={5,}$")
SBT_LINE = re.compile(r"^\[(?:info|success|warn|error)\] ")

NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_N"),
    (re.compile(r"\$+Lambda[\w$/]*(?:@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(/tmp/graft_[A-Za-z_]+?)_\d+\b"), r"\1_PID"),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def parse_dump(text):
    """{query: plan text} from an Explain dump; text before the first
    header and sbt's own log lines are dropped."""
    out, name, buf = {}, None, []
    for line in text.splitlines():
        m = HEADER.match(line)
        if m:
            if name is not None:
                out[name] = "\n".join(buf).strip()
            name, buf = m.group(1), []
        elif name is not None and not SBT_LINE.match(line):
            buf.append(line)
    if name is not None:
        out[name] = "\n".join(buf).strip()
    return out


def load(path):
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    return json.loads(text) if text.lstrip().startswith("{") \
        else parse_dump(text)


def _tokens(line):
    return Counter(re.findall(r"[A-Za-z_][\w.]*|\d+|\S", line))


def expand_order_only(a, b):
    """Both plans hold an Expand and agree line by line up to the order of
    the tokens on each line."""
    la, lb = a.splitlines(), b.splitlines()
    return ("Expand" in a and "Expand" in b and len(la) == len(lb)
            and all(_tokens(x) == _tokens(y) for x, y in zip(la, lb)))


def compare(a, b):
    """(only in a, only in b, differing, Expand-order-only) query names."""
    differ, expand = [], []
    for q in sorted(a.keys() & b.keys()):
        na, nb = normalize(a[q]), normalize(b[q])
        if na != nb:
            (expand if expand_order_only(na, nb) else differ).append(q)
    return sorted(a.keys() - b.keys()), sorted(b.keys() - a.keys()), \
        differ, expand


def main(argv):
    if len(argv) != 3:
        print("usage: tools/plan_diff.py <A> <B>", file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    only_a, only_b, differ, expand = compare(a, b)
    for title, names in (("only in A", only_a), ("only in B", only_b),
                         ("differ", differ),
                         ("differ only in Expand column order "
                          "(re-dump each alone)", expand)):
        if names:
            print(f"{title} ({len(names)}): {' '.join(names)}")
    same = len(a.keys() & b.keys()) - len(differ) - len(expand)
    print(f"{same} of {len(a.keys() | b.keys())} queries identical")
    return 1 if only_a or only_b or differ or expand else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
