#!/usr/bin/env python3
"""Diff two `Bench explain` outputs gate by gate.

Splits each file on its `########## <gate>` headers, drops sbt's own log
lines and Spark's timestamped `WARN`/`INFO`/`ERROR` log lines, normalizes
the run-specific parts of the formatted physical plans (expression ids
`#123`, `plan_id=…`, RDD ids `…RDD[123]`, checkpoint block ids, object
hashes `@1a2b3c4d`, lambda class names `$Lambda$4866/0x…`, the random
suffix of scratch directories, the checkout path before `/fixtures/`),
and prints, for each gate whose plans differ, the differing lines. A gate
present in only one file counts as a difference, so two checkouts of an
unchanged plan read 0 differing gates.

Usage: python3 tools/plan_diff.py <before.txt> <after.txt>
Exit status: 0 when every gate's plan is identical, 1 otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^#{10} (\S+)\s*$")
IDS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"rdd_\d+_\d+"), "rdd_N_N"),
    (re.compile(r"\$\$?Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@N"),
    (re.compile(r"(/[A-Za-z_]+?)\d{6,}/"), r"\1N/"),
    (re.compile(r"file:[^\s,\]]*/fixtures/"), "file:<checkout>/fixtures/"),
]
SBT_LOG = re.compile(r"^\[(success|info|warn|error)\] ")
SPARK_LOG = re.compile(r"^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} (WARN|INFO|ERROR) ")


def normalize(line: str) -> str:
    for pat, rep in IDS:
        line = pat.sub(rep, line)
    return line.rstrip()


def split_gates(path: str) -> dict:
    gates, cur = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                gates[cur] = []
            elif cur is not None and not (SBT_LOG.match(line)
                                          or SPARK_LOG.match(line)):
                gates[cur].append(normalize(line))
    return {g: [l for l in ls if l] for g, ls in gates.items()}


def main(before: str, after: str) -> int:
    a, b = split_gates(before), split_gates(after)
    differing = 0
    for gate in sorted(set(a) | set(b)):
        if gate not in a or gate not in b:
            print(f"## {gate}: only in {before if gate in a else after}")
            differing += 1
            continue
        diff = [l for l in difflib.unified_diff(a[gate], b[gate], lineterm="",
                                                n=0)
                if l[:1] in "+-" and not l.startswith(("+++", "---"))]
        if diff:
            differing += 1
            print(f"## {gate}: {len(diff)} differing lines")
            for l in diff:
                print(l)
        else:
            print(f"## {gate}: identical")
    print(f"{differing} of {len(set(a) | set(b))} gates differ")
    return 1 if differing else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
