#!/usr/bin/env python3
"""Summarize a sf10_sweep.sh log into pass/fail/timeout counts and a
markdown-ready listing (used to cut the BASELINE.md round tables).

TIMEOUT rows are annotated with their documented mirror family from
tools/mirror_families.txt (VERDICT r10 #4), and a TIMEOUT whose query is
NOT in that taxonomy fails the summary (exit 2): every over-cap mirror
must be classified — "deliberately exact" as unchecked prose is how two
fixable plan bugs hid through round 9.
"""
import sys, re, os

def load_families():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "mirror_families.txt")
    fams = {}
    for line in open(path):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        name, fam = line.split(None, 1)
        fams[name] = fam
    return fams

def parse_rows(text):
    rows = {}
    # ERR (oracle SQL failed) and MISS (no parquet output) are failures in
    # check_oracle's exit code — they must surface here too, or a sweep with
    # oracle errors summarizes as clean (ADVICE r9 #1). Names may carry a
    # trailing ':' (ERR/MISS print "NAME: reason").
    for m in re.finditer(r'^(PASS|FAIL|TIMEOUT|SKIP|ERR|MISS|ABSENT)\s+(\w+):?(.*)$',
                         text, re.M):
        status, name, rest = m.groups()
        rows[name] = (status, rest.strip())
    return rows

log = open(sys.argv[1]).read()
fams = load_families()
rows = parse_rows(log)
counts = {}
for status, _ in rows.values():
    counts[status] = counts.get(status, 0) + 1
print(f"total {len(rows)}: {counts}")
unclassified = []
for st in ("FAIL", "ERR", "MISS", "ABSENT", "TIMEOUT", "SKIP"):
    for n, (s, r) in sorted(rows.items()):
        if s != st:
            continue
        if st == "TIMEOUT":
            fam = fams.get(n)
            if fam is None:
                unclassified.append(n)
                fam = "UNCLASSIFIED — EXPLAIN the mirror and add to mirror_families.txt"
            print(f"  TIMEOUT {n} [family: {fam}] {r}")
        else:
            print(f"  {st} {n} {r}")
if unclassified:
    print(f"\nERROR: {len(unclassified)} TIMEOUT row(s) without a documented "
          f"mirror family: {' '.join(unclassified)}")
    sys.exit(2)
