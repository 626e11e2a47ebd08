#!/usr/bin/env python3
"""Per-face median `durationMs` of a perfbench `stream` run, from its Spark
event log.

    python3 plans/stream_modes/faces.py <side>=<event log dir> ... > faces.json

Record the event log by starting the run with
`JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:<dir>"`.
For each face (streaming query name; the `check_*` queries of the output
check are skipped) it takes the micro-batches that read rows, drops the
first one (query start-up), and prints the median of every `durationMs`
entry and of the summed state-store `commitTimeMs`.
"""
import collections
import glob
import json
import statistics
import subprocess
import sys


def progress(log_dir):
    by_face = collections.defaultdict(list)
    for f in sorted(glob.glob(f"{log_dir}/*/events_*")):
        text = subprocess.run(["zstd", "-dc", f] if f.endswith(".zstd") else ["cat", f],
                              capture_output=True, text=True, check=True).stdout
        for line in text.splitlines():
            if "QueryProgressEvent" in line:
                p = json.loads(line)["progress"]
                by_face[p["name"]].append(p)
    return by_face


def medians(batches):
    rows = [p for p in batches if sum(s["numInputRows"] for s in p["sources"]) > 0][1:]
    keys = sorted({k for p in rows for k in p["durationMs"]})
    out = {"batches": len(rows)}
    out.update({k: statistics.median(p["durationMs"].get(k, 0) for p in rows) for k in keys})
    out["stateCommitTimeMs"] = statistics.median(
        sum(o["commitTimeMs"] for o in p.get("stateOperators", [])) for p in rows)
    return out


def main():
    result = {}
    for arg in sys.argv[1:]:
        side, log_dir = arg.split("=", 1)
        result[side] = {face: medians(b) for face, b in sorted(progress(log_dir).items())
                        if not face.startswith("check")}
    json.dump(result, sys.stdout, indent=1)


if __name__ == "__main__":
    main()
