#!/usr/bin/env python3
"""Show which code forks processes in a JVM, from a JFR recording.

Usage:
    python3 tools/jfr_spawns.py RECORDING.jfr [--top N]

Reads the recording's jdk.ProcessStart events through the JDK's
`jfr print --json --events jdk.ProcessStart` (with --stack-depth 128)
and prints the spawn count grouped by command (the executable's name)
and by the first `org.apache.spark` or `graft` frame of the spawning
stack. Spawns with
neither frame on their (possibly truncated) stack count under
`(no spark/graft frame)`.

Recording a direct harness run of the stream workload (from the
repository root, after `perfbench/run.py` has built `.bench_build`; the
--add-opens flags are the ones perfbench/run.py passes):

    java -XX:StartFlightRecording=filename=stream.jfr -XX:FlightRecorderOptions=stackdepth=128 -Xmx3g $(for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do printf -- '--add-opens java.base/%s=ALL-UNNAMED ' $p; done) -cp ".bench_build/bench:.bench_build/main:$SPARK_HOME/jars/*" perfbench.Harness --workload stream_events --kind stream --data perfbench/data/sf0.1 --queries "" --sources events --seconds 10 --trace 0 --out jfr_run --cores "$(nproc)"

jdk.ProcessStart is on, with stack traces, in the JDK's default recording
settings; the larger stack depth keeps Spark's frames on deep Hadoop
stacks.
"""
import argparse
import collections
import json
import os
import subprocess
import sys


def events(recording):
    """The recording's jdk.ProcessStart events as parsed JSON objects."""
    # jfr print keeps 5 frames a stack unless told otherwise
    r = subprocess.run(["jfr", "print", "--json", "--stack-depth", "128",
                        "--events", "jdk.ProcessStart", recording],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"jfr print failed: {r.stderr.strip()}")
    return json.loads(r.stdout)["recording"]["events"]


def command_name(ev):
    cmd = (ev["values"].get("command") or "").split()
    return os.path.basename(cmd[0]) if cmd else "(unknown)"


def owner_frame(ev):
    """`Class.method` of the first org.apache.spark or graft frame from the
    top of the spawning stack."""
    trace = ev["values"].get("stackTrace") or {}
    for f in trace.get("frames", []):
        cls = f["method"]["type"]["name"].replace("/", ".")  # JFR JSON writes binary names
        if cls.startswith(("org.apache.spark.", "graft.")):
            return f"{cls}.{f['method']['name']}"
    return "(no spark/graft frame)"


def table(title, counts, top):
    print(title)
    for name, n in counts.most_common(top):
        print(f"{n:8d}  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20, help="rows per table (default 20)")
    a = ap.parse_args()
    evs = events(a.recording)
    print(f"{len(evs)} process spawns")
    if evs:
        table("by command:", collections.Counter(command_name(e) for e in evs), a.top)
        table("by first org.apache.spark / graft frame:",
              collections.Counter(owner_frame(e) for e in evs), a.top)


if __name__ == "__main__":
    main()
