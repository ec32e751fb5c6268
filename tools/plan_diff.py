#!/usr/bin/env python3
"""Diff two `graft.tools.ExplainQ` outputs row by row, ignoring run-specific ids.

Usage: python3 tools/plan_diff.py BEFORE AFTER

Each file holds the captured stdout of
`runMain graft.tools.ExplainQ <row>[,<row>...] <sfDir>`: one block per
row, headed `== Row: <name> ==`, from `== Physical Plan ==` through the
`HASHPART_COUNT=` line (sbt log lines around the blocks are ignored).
The blocks are compared by row name; a row present in only one file is
a difference. Before comparing, these are masked:

  - expression ids `#<n>` (e.g. `doc_id#12L`);
  - exchange ids `plan_id=<n>`;
  - temporary paths (`/tmp/...`, `spark-<uuid>` and `blockmgr-<uuid>`
    directories);
  - RDD ids and creation sites of checkpointed scans
    (`MapPartitionsRDD[10] at localCheckpoint at Dedup.scala:208`);
  - JVM lambda class names of typed operators
    (`Multimodal$$$Lambda$3653/0x00007fe8010958c8@3b67c637`).

Prints a unified diff per differing row and exits 1 on any difference;
prints `no plan difference (<n> rows)` and exits 0 otherwise.
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
ROW = re.compile(r"^== Row: (\S+) ==$", re.M)
END = re.compile(r"^HASHPART_COUNT=\d+$", re.M)


def plan_blocks(path):
    """{row name: masked plan lines} in file order."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    heads = list(ROW.finditer(text))
    blocks = {}
    for i, h in enumerate(heads):
        body = text[h.end():heads[i + 1].start() if i + 1 < len(heads) else len(text)]
        start = body.find("== Physical Plan ==")
        if start >= 0:
            body = body[start:]
        end = END.search(body)
        if end:
            body = body[:end.end()]
        for rx, repl in MASKS:
            body = rx.sub(repl, body)
        blocks[h.group(1)] = body.splitlines()
    return blocks


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    before, after = plan_blocks(argv[1]), plan_blocks(argv[2])
    if not before and not after:
        print("no `== Row:` blocks in either file", file=sys.stderr)
        return 2
    differ = []
    for row in list(before) + [r for r in after if r not in before]:
        if row not in before or row not in after:
            where = argv[1] if row in before else argv[2]
            print(f"== {row}: only in {where}")
            differ.append(row)
            continue
        diff = list(difflib.unified_diff(before[row], after[row],
                                         f"{argv[1]} [{row}]", f"{argv[2]} [{row}]",
                                         lineterm=""))
        if diff:
            print(f"== {row}: plan differs")
            print("\n".join(diff))
            differ.append(row)
    if differ:
        print(f"plan differences in {len(differ)} row(s): {', '.join(differ)}")
        return 1
    print(f"no plan difference ({len(before)} rows)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
