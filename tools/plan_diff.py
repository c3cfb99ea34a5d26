#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs query by query.

Usage: python3 tools/plan_diff.py <parentExplain.txt> <changeExplain.txt>

Each file is the stdout of `runMain graft.Explain <sfDir> [query ...]`: one
`========== <query> ==========` header per query, followed by that query's
`explain("formatted")` text. Lines of sbt's own log (`[info] ...`,
`[success] Total time ...`) are dropped, and the numbers that differ from
run to run on an identical plan are replaced by placeholders:

  - expression ids (`name#123`, `name#123L`, `[id=#7]`);
  - exchange ids (`plan_id=4711`);
  - RDD ids and call sites of checkpointed scans
    (`MapPartitionsRDD[64] at localCheckpoint at util.scala:220`);
  - random suffixes of scratch directories in paths
    (`/tmp/graft_fmt8009743436175925539`);
  - names of Scala lambda classes and identity hashes of objects printed
    in a plan (`Dedup$$$Lambda$9375/0x00007f8d45e9f590@2c68985a`).

Prints a unified diff for every query whose normalized plan differs or that
only one file holds, then a summary line. Exits 1 if any plan differs.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
SBT_LOG = re.compile(r"^\[(info|success|warn|error)\] ")
RUN_LOCAL = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(/[\w.-]*?)[0-9a-f]{16,}(?=[/\],)\s]|$)"), r"\1*"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@H"),
]


def plans(path):
    """Map each query name to its normalized plan lines, in file order."""
    out, name = {}, None
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not SBT_LOG.match(line):
                for pat, rep in RUN_LOCAL:
                    line = pat.sub(rep, line)
                out[name].append(line)
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(parent_path, change_path):
    parent, change = plans(parent_path), plans(change_path)
    names = list(parent) + [n for n in change if n not in parent]
    differ = 0
    for n in names:
        a, b = parent.get(n), change.get(n)
        if a == b:
            continue
        differ += 1
        print(f"== {n}: plan differs" if a is not None and b is not None
              else f"== {n}: only in {parent_path if b is None else change_path}")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            a or [], b or [], parent_path, change_path, lineterm=""))
    print(f"{len(names) - differ}/{len(names)} plans equal, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
