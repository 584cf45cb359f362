#!/usr/bin/env python3
"""Compare two directories of `graft.tools.LoopPlanDump` output.

    python3 tools/plandiff.py <dirA> <dirB>

For every `<query>.txt` in either directory, compares the `-- optimized --`
and `-- physical --` sections of each action and the `[summary] jobs= rows=
md5=` line, after stripping what differs between two runs of the same code:

- expression ids (`#123`) and exchange plan ids (`plan_id=45`);
- `_<nanoTime>` suffixes of view and temp-directory names;
- lambda class names (`Lambda$12/0x0000…`), object identity hashes
  (`KmvAggregator@4611fc88`) and observation UUIDs (`CollectMetrics <uuid>`);
- temp paths under /tmp and /dev/shm (a `FileScan` location string is cut at a
  fixed length, so a path's length alone can move its closing `]`: the rest
  of a truncated location is dropped too);
- micro-batch timestamps and AQE query-stage ids, which only executed plans
  carry (executed plans are not compared: AQE may re-plan them run to run).

Prints one line per differing query with the first differing lines, and a
closing `plandiff: N same, M differ` line. Exits 1 when any query differs or
is missing on one side, else 0.
"""
import difflib
import os
import re
import sys

STRIP = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"Lambda\$?\d*/0x[0-9a-f]+"), "Lambda"),
    (re.compile(r"@[0-9a-f]{4,8}\b"), "@H"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    # a temp path, plus the rest of a location string cut after it
    (re.compile(r"(file:)?(/dev/shm|/tmp)/[^\s,\]\)]*(\.\.\.[^\]]*)?"), "<tmp>"),
    (re.compile(r"_\d{6,}\b"), "_T"),
    (re.compile(r"(batchTimestampMs|currentBatchTimestamp|timestamp)[=:( ]+\d+"),
     r"\1=T"),
    (re.compile(r"((Shuffle|Broadcast|Result|TableCache)QueryStage) \d+"),
     r"\1 N"),
]

SECTION = re.compile(r"^-- (optimized|physical|executed) --$")


def normalize(line):
    for pat, rep in STRIP:
        line = pat.sub(rep, line)
    return line


def compared(path):
    """The optimized and physical sections and the summary line of one
    dump, normalized; action headers are kept so a moved plan shows."""
    out, keep = [], True
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = SECTION.match(line)
            if m:
                keep = m.group(1) != "executed"
            elif line.startswith("=========="):
                keep = True
            if line.startswith("[summary]") or (keep and line.strip()):
                out.append(normalize(line))
    return out


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: plandiff.py <dirA> <dirB>")
    a, b = argv[1], argv[2]
    names = sorted({n for d in (a, b) for n in os.listdir(d)
                    if n.endswith(".txt")})
    same = differ = 0
    for n in names:
        pa, pb = os.path.join(a, n), os.path.join(b, n)
        if not (os.path.exists(pa) and os.path.exists(pb)):
            print(f"[missing] {n}: only in {a if os.path.exists(pa) else b}")
            differ += 1
            continue
        la, lb = compared(pa), compared(pb)
        if la == lb:
            same += 1
            continue
        differ += 1
        diff = list(difflib.unified_diff(la, lb, pa, pb, n=0, lineterm=""))
        gone = sum(1 for l in diff[2:] if l.startswith("-"))
        added = sum(1 for l in diff[2:] if l.startswith("+"))
        print(f"[differ] {n}: -{gone} +{added} line(s)")
        for l in diff[:12]:
            print("    " + l[:240])
    print(f"plandiff: {same} same, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
