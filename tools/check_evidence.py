#!/usr/bin/env python3
"""Evidence completeness gate: every query SparkEntry declares must appear
in the committed bench detail, the bench must not have benched unknown
queries, and no benched query may have errored. Run at end of round:

    check_evidence.py <BENCH_DETAIL_rN.json> <verifyOutDir>

The verify out dir supplies manifest.json (written by graft.Verify) — the
authoritative declared-query list for the same build.
"""
import sys, json, os

if len(sys.argv) != 3:
    sys.exit("usage: check_evidence.py <BENCH_DETAIL_rN.json> <verifyOutDir>")

detail = json.load(open(sys.argv[1]))
declared = set(json.load(open(os.path.join(sys.argv[2], "manifest.json"))))
benched = set(detail["queries"].keys())
errors = set(detail.get("errors", []))

fails = 0
for m in sorted(declared - benched):
    fails += 1
    print(f"MISSING from bench detail: {m}")
for e in sorted(benched - declared):
    fails += 1
    print(f"bench detail has undeclared query: {e}")
for e in sorted(errors):
    fails += 1
    print(f"bench query ERRORED (timing is not evidence): {e}")
print(f"declared={len(declared)} benched={len(benched)} errors={len(errors)}")

sys.exit(1 if fails else 0)
