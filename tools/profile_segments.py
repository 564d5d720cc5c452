#!/usr/bin/env python3
"""Summarise graft.QueryProfile lines by user call site.

Reads profile JSON files (one {"metric":"profile",...} object each, as
tools/explain_exec.scala writes them) or Bench stdout (the profile lines are
picked out) and prints, per profile: the longest job, and the three largest
call-site segments. A segment opens at a job whose call site is in user code
and takes in the AQE stage jobs after it (their "after" field), so it holds
one user-level action with the stage jobs it triggered.

    python3 tools/profile_segments.py plans/pr9/*_profile.json
    python3 tools/profile_segments.py bench.out
"""
import json
import sys


def profiles(path):
    with open(path) as f:
        for line in f:
            if '"metric":"profile"' in line:
                yield json.loads(line)


def segments(p):
    segs = []
    for j in p["job_list"]:
        if "after" not in j or not segs:
            segs.append([j.get("after", j["name"]), 0, 0])
        segs[-1][1] += j["ms"]
        segs[-1][2] += 1
    return segs


for path in sys.argv[1:]:
    for p in profiles(path):
        if not p["job_list"]:
            continue
        big = max(p["job_list"], key=lambda j: j["ms"])
        top = sorted(enumerate(segments(p)), key=lambda kv: -kv[1][1])[:3]
        print("%s | longest job %d ms %s | segments: %s" % (
            p["name"], big["ms"], big.get("after", big["name"]),
            "; ".join("#%d %s=%d ms/%d jobs" % (i, s[0], s[1], s[2]) for i, s in top)))
