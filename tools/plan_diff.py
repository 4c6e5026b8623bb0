#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps query by query.

Usage:
    sbt "runMain graft.Explain <sfDir>" > before.txt   # on the old tree
    sbt "runMain graft.Explain <sfDir>" > after.txt    # on the new tree
    python3 tools/plan_diff.py before.txt after.txt [--show N]

A dump is split into one section per `========== <query> ==========`
header. sbt's `[info] ` prefix is stripped, and `[error]`/`[warn]`/
`[success]` lines (Spark's log, sbt's own messages) and everything before
the first header are dropped. Before comparing, the script masks what
differs between two JVMs running the same plan:

  - expression ids (`#123` -> `#`), exchange plan ids (`plan_id=123`)
    and RDD ids (`MapPartitionsRDD[123]`), all drawn from per-JVM counters;
  - the source line of an RDD's creation site (`at SparkEntry.scala:123`),
    which moves whenever code above it is edited;
  - per-JVM temporary directories, whose names end in a random number
    (`graft-batch-stage-<n>`, the stream stage and checkpoint directories
    `graft-stage-<name>-<n>` / `graft-ckpt-<name>-<n>`) and the part
    files written into them (`part-00003-<uuid>`);
  - JVM lambda class names (`Lambda$6203/0x00007f43b16d8bf8@75a301c3`).

What the masks leave is a real plan difference or run-history noise
that no mask can tell from one: Spark orders distinct-aggregate groups
(`Expand` projections) by expression hash, which includes expression
ids, and seeds the range-partition sampler from the RDD id, so a staged
range-partitioned layout can hold a different number of files. Run the
old tree twice in different orders (e.g. one query alone) to see which
differences are such noise.

Prints the number of differing queries out of all queries, names each one
(and the queries present in only one dump), and shows the first N line
differences of each with --show. Exits 1 if anything differs.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^========== (.+) ==========$")
NOISE = re.compile(r"^\[(error|warn|success)\]")
MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=*"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[*]"),
    (re.compile(r"(\.scala):\d+"), r"\1:*"),
    (re.compile(r"(graft-[\w-]*?-)\d{6,}"), r"\1*"),
    (re.compile(r"part-\d{5}-[0-9a-f-]{36}"), "part-*"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda*"),
]


def sections(path):
    """Query name -> list of masked plan lines."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if NOISE.match(line):
                continue
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line == "[info]":
                line = ""
            m = HEADER.match(line.strip())
            if m:
                cur = m.group(1)
                out[cur] = []
                continue
            if cur is None:
                continue
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out[cur].append(line)
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--show", type=int, default=0, metavar="N",
                    help="print up to N diff lines per differing query")
    a = ap.parse_args(argv)
    old, new = sections(a.before), sections(a.after)
    if not old or not new:
        print("no `========== <query> ==========` sections in "
              + (a.before if not old else a.after), file=sys.stderr)
        return 2
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    common = sorted(set(old) & set(new))
    differ = [q for q in common if old[q] != new[q]]
    for q in only_old:
        print(f"only in {a.before}: {q}")
    for q in only_new:
        print(f"only in {a.after}: {q}")
    for q in differ:
        print(f"DIFF {q}")
        if a.show:
            d = difflib.unified_diff(old[q], new[q], "before", "after",
                                     lineterm="", n=0)
            for line in list(d)[:a.show]:
                print("    " + line)
    print(f"{len(differ)} differing queries out of {len(common)}"
          f" ({len(only_old)} only before, {len(only_new)} only after)")
    return 1 if differ or only_old or only_new else 0


if __name__ == "__main__":
    sys.exit(main())
