#!/usr/bin/env python3
"""Diff two `graft.PlanDump` outputs query by query.

    python3 scripts/plan_diff.py before.txt after.txt

Each input is PlanDump's stdout, captured directly or through
`sbt runMain` (sbt's "[info] " prefixes and interleaved log lines are
dropped). Before comparing, the ids that change from run to run are
normalized: expression ids (`#123`), exchange `plan_id`s, RDD numbers,
`Fixpoint.scala` line numbers and the JVM identity hashes of objects
printed by their default `toString` (`graft.functions.MisraGries@6febbb07`).
Prints one unified diff per query whose plan differs and a summary line;
exits 1 if any query differs or is missing from one side.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
SBT_TAG = re.compile(r"^\[(info|warn|error|success|debug)\] ?")
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (TRACE|DEBUG|INFO|WARN|ERROR) ")
NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"Fixpoint\.scala:\d+"), "Fixpoint.scala:N"),
    (re.compile(r"\b([A-Za-z_$][\w.$]*)@[0-9a-f]+\b"), r"\1@H"),
]


def sections(path):
    """{query name: normalized plan lines} in dump order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            tag = SBT_TAG.match(line)
            if tag:
                if tag.group(1) == "success":  # sbt's end-of-run line
                    cur = None
                if tag.group(1) != "info":
                    continue
                line = line[tag.end():]
            if LOG_LINE.match(line):
                continue
            head = HEADER.match(line)
            if head:
                cur = head.group(1)
                out[cur] = []
            elif cur is not None:
                for pat, rep in NORMALIZE:
                    line = pat.sub(rep, line)
                out[cur].append(line)
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    before, after = sections(argv[1]), sections(argv[2])
    same, differ, missing = [], [], []
    for name in list(before) + [n for n in after if n not in before]:
        if name not in before or name not in after:
            missing.append(name)
        elif before[name] == after[name]:
            same.append(name)
        else:
            differ.append(name)
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in before[name]], [l + "\n" for l in after[name]],
                f"{argv[1]}:{name}", f"{argv[2]}:{name}", n=2))
    print(f"{len(same)} identical, {len(differ)} differ, {len(missing)} missing")
    if differ:
        print("differ: " + " ".join(differ))
    if missing:
        print("missing: " + " ".join(missing))
    return 1 if differ or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
