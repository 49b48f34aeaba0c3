"""Process starts of a benchmark run, per command and per store table.

    python3 tools/proc_starts.py ingest.jfr \
        --spans .bench_build/perfbench/traces/ingest-seed1.jsonl

Reads the `jdk.ProcessStart` events of a JFR recording (through the JDK's
`jfr` tool) and prints how many processes the JVM started, per command
(`chmod`, `ls`, `bash`, ...) and per store table: the deployment path a
command names, up to its first partition (`k=v`), hidden (`_*`, `.*`) or
data-file component, relative to the deployment directory (`deploy/`).
Given the spans file of a traced run, it also splits every count into
starts inside a span named by `--span` (default `commitTranche` and
`retract`) and starts outside them.

To make the recording without touching the benchmark harness, run the
benchmark on an already-built checkout (a first run builds it; the
recording option would otherwise reach the build's JVMs too) with the
recording option in the JVM's environment:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 1
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=$PWD/ingest.jfr \
        python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 1

The run's JVM writes the recording when it exits; `--trace 1` keeps the
spans file.
"""
import argparse
import datetime
import json
import subprocess
from collections import Counter


def events(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1",
                          "--events", "jdk.ProcessStart", jfr],
                         capture_output=True, text=True, check=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        yield epoch_ms(v["startTime"]), v["command"]


def epoch_ms(iso):
    # JFR prints nanoseconds; datetime takes at most microseconds
    head, _, frac = iso.rstrip("Z").partition(".")
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=datetime.timezone.utc)
    return t.timestamp() * 1000 + float("0." + (frac or "0")) * 1000


def table_of(command):
    paths = [a for a in command.split() if a.startswith("/")]
    if not paths:
        return "(no path)"
    parts = paths[-1].split("/")
    if "deploy" not in parts:
        return "(outside the deployment)"
    rel = parts[len(parts) - parts[::-1].index("deploy"):]
    keep = []
    for p in rel:
        if "=" in p or p.startswith(("_", ".", "part-")):
            break
        keep.append(p)
    return "/".join(keep) or "(deployment root)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr", help="a JFR recording of the run's JVM")
    ap.add_argument("--spans", help="the traced run's spans file (.jsonl)")
    ap.add_argument("--span", nargs="+", default=["commitTranche", "retract"])
    a = ap.parse_args()
    windows = []
    if a.spans:
        rows = [json.loads(line) for line in open(a.spans) if line.strip()]
        windows = [(r["start_ms"], r["end_ms"]) for r in rows
                   if "span" in r and r["name"] in a.span]
        if not windows:
            raise SystemExit(f"no span named {' or '.join(a.span)} in {a.spans}")
    starts = list(events(a.jfr))

    def inside(ms):
        return any(s <= ms <= e for s, e in windows)

    print(f"{len(starts)} process starts"
          + (f"; {sum(inside(t) for t, _ in starts)} inside {len(windows)} "
             f"{'/'.join(a.span)} span(s)" if a.spans else ""))
    for title, key in (("command", lambda c: c.split()[0] if c else "?"),
                       ("store table", table_of)):
        total, within = Counter(), Counter()
        for t, c in starts:
            total[key(c)] += 1
            within[key(c)] += inside(t)
        print(f"\n{title:40s} {'starts':>7s}" + (f" {'inside':>7s} {'outside':>7s}"
                                                  if a.spans else ""))
        for k, n in total.most_common():
            print(f"{k:40s} {n:7d}" + (f" {within[k]:7d} {n - within[k]:7d}"
                                       if a.spans else ""))


if __name__ == "__main__":
    main()
