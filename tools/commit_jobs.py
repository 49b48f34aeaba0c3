"""Per-phase job table of the commits in a traced benchmark run.

    python3 tools/commit_jobs.py .bench_build/perfbench/traces/ingest-seed1.jsonl

Reads the spans file a traced run writes (`perfbench/run.py --trace 1`)
and, for the jobs that started inside each `commitTranche` span (or the
span named by `--span`), prints one row per phase label: jobs, summed
task seconds, and wall seconds (the union of the phase's job intervals).
The phase label is the job's description after `commitTranche(<id>)/`,
as `Curation.commitTranche` sets it, or the whole description for the
other writer-locked arcs (`retract`, `maintainDue`, ...); a job without
one is listed under `(unlabelled) <engine frame or call site>`. Rows are summed over every
commit span of the file; `--per-span` divides them by the span count.
"""
import argparse
import json
import re
from collections import defaultdict

LABEL = re.compile(r"^commitTranche\(\d+\)/(.+)$")


def union_seconds(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def phase_of(job):
    desc = job.get("desc", "")
    m = LABEL.match(desc)
    if m:
        return m.group(1)
    if desc:
        return desc[:40]
    where = job.get("frame") or job.get("site") or "?"
    return "(unlabelled) " + re.sub(r"\$anonfun\$|\$\d+", "", where)[:60]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", help="a traced run's spans file (.jsonl)")
    ap.add_argument("--span", default="commitTranche")
    ap.add_argument("--per-span", action="store_true")
    a = ap.parse_args()
    rows = [json.loads(line) for line in open(a.spans) if line.strip()]
    spans = [r for r in rows if "span" in r and r["name"] == a.span]
    if not spans:
        raise SystemExit(f"no span named {a.span!r} in {a.spans}")
    jobs = [r for r in rows if "job" in r]
    table = defaultdict(lambda: {"jobs": 0, "task_s": 0.0, "iv": []})
    wall = 0.0
    for s in spans:
        wall += (s["end_ms"] - s["start_ms"]) / 1000.0
        for j in jobs:
            if s["start_ms"] <= j["start_ms"] <= s["end_ms"]:
                t = table[phase_of(j)]
                t["jobs"] += 1
                t["task_s"] += j["task_ms"] / 1000.0
                t["iv"].append((j["start_ms"], j["end_ms"]))
    n = len(spans) if a.per_span else 1
    print(f"{len(spans)} {a.span} span(s), {wall / n:.2f} s wall"
          + (" per span" if a.per_span else ""))
    print(f"{'phase':40s} {'jobs':>6s} {'task_s':>8s} {'wall_s':>8s}")
    for name, t in sorted(table.items(), key=lambda kv: min(kv[1]["iv"])):
        print(f"{name:40s} {t['jobs'] / n:6.1f} {t['task_s'] / n:8.2f} "
              f"{union_seconds(t['iv']) / n:8.2f}")
    total_jobs = sum(t["jobs"] for t in table.values())
    total_task = sum(t["task_s"] for t in table.values())
    all_iv = [iv for t in table.values() for iv in t["iv"]]
    print(f"{'total':40s} {total_jobs / n:6.1f} {total_task / n:8.2f} "
          f"{union_seconds(all_iv) / n:8.2f}")


if __name__ == "__main__":
    main()
