#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Explain prints one `===== <query> =====` header per query followed by its
physical plan. Expression ids (`#123`), exchange ids (`plan_id=…`),
lambda-variable ids (`x_17`) and broadcast-variable ids (`Broadcast(5)`)
are allocated from JVM-global counters, and the warehouse directory
follows the working directory, so they differ between any two runs or
checkouts; they are normalized away before diffing. What remains is the
plan shape, the operators and the expressions.

Usage: tools/plan_diff.py BEFORE AFTER [--only q1,q2] [--ignore REGEX ...]
                          [--conjuncts]
  --only       restrict the comparison to these queries
  --ignore     delete every match of REGEX (after normalization) on both
               sides before comparing; repeatable. Use it to show that a
               known predicate is the ONLY difference.
  --conjuncts  compare each line as its operator name plus the sorted set
               of its bracket-free ` AND ` / `, ` / `: ` terms, so a filter
               whose conjuncts the
               optimizer merely reordered compares equal. Coarse: use it
               after the exact diff has shown which lines differ.

Prints a unified diff per differing query and a one-line summary; exits
1 if any compared query differs or is missing from one side, else 0.

Example:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt -batch \
    "runMain graft.Explain v_knn_join" > after.txt
  tools/plan_diff.py before.txt after.txt
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
OPERATOR = re.compile(r"^([\s:|+-]*\w+ ?)(.*)$")  # tree prefix + operator name
NORMALIZE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\bx_\d+\b"), "x_"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast()"),
    (re.compile(r"file:\S*/spark-warehouse/"), "file:spark-warehouse/"),
]


def parse(path):
    """query name -> list of plan lines (anything before the first header,
    e.g. sbt's own log lines, is dropped)."""
    plans, cur = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = plans.setdefault(m.group(1), [])
            elif cur is not None and line.strip() and not line.startswith("["):
                cur.append(line)
    return plans


def normalize(lines, ignores, conjuncts):
    out = []
    for line in lines:
        for pat, rep in NORMALIZE:
            line = pat.sub(rep, line)
        for pat in ignores:
            line = pat.sub("", line)
        if conjuncts:
            head, rest = OPERATOR.match(line).groups()
            terms = re.split(r" AND |, |: ", re.sub(r"[()\[\]]", "", rest))
            line = head + " AND ".join(sorted(t.strip() for t in terms if t.strip()))
        out.append(line)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--only", default="")
    ap.add_argument("--ignore", action="append", default=[])
    ap.add_argument("--conjuncts", action="store_true")
    args = ap.parse_args(argv)
    ignores = [re.compile(p) for p in args.ignore]
    a, b = parse(args.before), parse(args.after)
    names = [n for n in args.only.split(",") if n] or sorted(set(a) | set(b))
    differ = []
    for name in names:
        if name not in a or name not in b:
            side = args.before if name not in a else args.after
            print(f"--- {name}: missing from {side}")
            differ.append(name)
            continue
        diff = list(difflib.unified_diff(
            normalize(a[name], ignores, args.conjuncts),
            normalize(b[name], ignores, args.conjuncts),
            f"{args.before}:{name}", f"{args.after}:{name}", lineterm=""))
        if diff:
            print("\n".join(diff))
            differ.append(name)
    print(f"{len(names) - len(differ)}/{len(names)} identical"
          + (f"; differ: {', '.join(differ)}" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
