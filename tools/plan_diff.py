#!/usr/bin/env python3
"""Diff two `graft.tools.ExplainQ` outputs, ignoring run-specific ids.

Usage: python3 tools/plan_diff.py BEFORE AFTER

Each file holds the captured stdout of
`runMain graft.tools.ExplainQ <row> <sfDir>` (sbt log lines around it
are ignored: only the text from `== Physical Plan ==` through the
`HASHPART_COUNT=` line is compared). Before comparing, these are masked:

  - expression ids `#<n>` (e.g. `doc_id#12L`);
  - exchange ids `plan_id=<n>`;
  - temporary paths (`/tmp/...`, `spark-<uuid>` and `blockmgr-<uuid>`
    directories);
  - RDD ids and creation sites of checkpointed scans
    (`MapPartitionsRDD[10] at localCheckpoint at Dedup.scala:208`);
  - JVM lambda class names of typed operators
    (`Multimodal$$$Lambda$3653/0x00007fe8010958c8@3b67c637`).

Prints a unified diff and exits 1 on any difference; prints
`no plan difference` and exits 0 otherwise.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<id>"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"(spark|blockmgr)-[0-9a-f]{8}-[0-9a-f-]{27}"), r"\1-<uuid>"),
    (re.compile(r"RDD\[\d+\] at \w+ at [\w.$]+:\d+"), "RDD[<id>] at <site>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda<id>"),
]


def plan_lines(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    start = text.find("== Physical Plan ==")
    if start >= 0:
        text = text[start:]
    end = re.search(r"^HASHPART_COUNT=\d+$", text, re.M)
    if end:
        text = text[:end.end()]
    for rx, repl in MASKS:
        text = rx.sub(repl, text)
    return text.splitlines()


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    before, after = plan_lines(argv[1]), plan_lines(argv[2])
    diff = list(difflib.unified_diff(before, after, argv[1], argv[2], lineterm=""))
    if diff:
        print("\n".join(diff))
        return 1
    print("no plan difference")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
