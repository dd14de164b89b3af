#!/usr/bin/env python3
"""Count the Janino compiles of one codegen-logged benchmark run.

Usage: python3 scripts/codegen_count.py <jvm.log> <result.json>

<jvm.log> is a JVM log written under scripts/log4j2-codegen.properties
(for example perfbench/work/<workload>/jvm.log of a run started with
JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=$PWD/scripts/log4j2-codegen.properties);
<result.json> is the same run's perfbench result file. CodeGenerator logs
one "Code generated in N ms" line per compile, so the count is the number
of compiles (cache misses) and the milliseconds their Janino time.

Compiles are split by the thread that ran them: task threads ("Executor
task launch worker ...") compile the stages a task runs; every other
thread (main, the AQE stage and exchange threads) is the driver. The
per-op figures divide by the run's attempted ops; they include the
run's set-up rounds, which compile the same classes for every change.
"""
import json
import re
import sys

LINE = re.compile(r"^\d{13} \[(.*)\] INFO CodeGenerator: Code generated in ([0-9.]+) ms")


def count(log_path):
    tally = {"driver": [0, 0.0], "task": [0, 0.0]}
    with open(log_path, errors="replace") as f:
        for line in f:
            m = LINE.match(line)
            if m:
                side = "task" if m.group(1).startswith("Executor task launch worker") else "driver"
                tally[side][0] += 1
                tally[side][1] += float(m.group(2))
    return tally


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    tally = count(argv[1])
    with open(argv[2]) as f:
        ops = json.load(f)["attempted"]
    tally["total"] = [tally["driver"][0] + tally["task"][0],
                      tally["driver"][1] + tally["task"][1]]
    print(f"attempted ops: {ops}")
    print(f"{'threads':8} {'compiles':>9} {'ms':>10} {'compiles/op':>12} {'ms/op':>9}")
    for side in ("driver", "task", "total"):
        n, ms = tally[side]
        per = (n / ops, ms / ops) if ops else (float("nan"), float("nan"))
        print(f"{side:8} {n:9d} {ms:10.1f} {per[0]:12.1f} {per[1]:9.1f}")


if __name__ == "__main__":
    main(sys.argv)
