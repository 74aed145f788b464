#!/usr/bin/env python3
"""Diff two `graft.Probe jobs` outputs and fail on any job or task increase.

Usage: python3 tools/jobs_diff.py A.tsv B.tsv

Each input is the stdout of
    SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.Probe jobs <sf_dir>"
i.e. `query<TAB>jobs<TAB>tasks<TAB>warm_s` rows; the header and any sbt
log lines around them are skipped. Prints one line per query whose job or
task count differs (A -> B and the delta), the queries present in only one
file, and a total line. Wall seconds are not compared: they are not
deterministic. Exits 1 when any query's jobs or tasks rise from A to B,
or when a query of A is missing from B (the probe leaves out the row of
a query that throws), else 0. Queries only in B are listed, not failed.
"""
import sys


def read_counts(path):
    """{query: (jobs, tasks)} from the probe's data rows."""
    counts = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            fields = line.rstrip("\n").split("\t")
            if len(fields) != 4 or not (fields[1].isdigit() and fields[2].isdigit()):
                continue
            counts[fields[0]] = (int(fields[1]), int(fields[2]))
    return counts


def diff(a, b):
    """(report lines, True when some query's jobs or tasks rose or a query
    of A is missing from B)."""
    lines, failed = [], False
    for q in sorted(a.keys() & b.keys()):
        (ja, ta), (jb, tb) = a[q], b[q]
        if (ja, ta) != (jb, tb):
            lines.append(f"{q}\tjobs {ja} -> {jb} ({jb - ja:+d})\t"
                         f"tasks {ta} -> {tb} ({tb - ta:+d})")
            failed = failed or jb > ja or tb > ta
    for q in sorted(a.keys() - b.keys()):
        lines.append(f"{q}\tonly in A")
        failed = True
    for q in sorted(b.keys() - a.keys()):
        lines.append(f"{q}\tonly in B")
    both = a.keys() & b.keys()
    ja = sum(a[q][0] for q in both)
    jb = sum(b[q][0] for q in both)
    ta = sum(a[q][1] for q in both)
    tb = sum(b[q][1] for q in both)
    lines.append(f"total ({len(both)} queries)\tjobs {ja} -> {jb} ({jb - ja:+d})\t"
                 f"tasks {ta} -> {tb} ({tb - ta:+d})")
    return lines, failed


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = read_counts(argv[1]), read_counts(argv[2])
    if not a or not b:
        print("no `query jobs tasks warm_s` rows in "
              + " and ".join(p for p, c in ((argv[1], a), (argv[2], b)) if not c),
              file=sys.stderr)
        return 2
    lines, failed = diff(a, b)
    print("\n".join(lines))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
