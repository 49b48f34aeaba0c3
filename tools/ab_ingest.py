"""Interleaved A/B of the benchmark's `ingest` workload on two checkouts.

    python3 tools/ab_ingest.py --base HEAD~1 --change . --seeds 301 302 303

`--base` and `--change` each name a directory holding a checkout (`.` is
the working tree, uncommitted edits included) or a git revision, which is
exported with `git archive` into `--workdir/<sha>`. For every seed the two
variants run back to back, in alternating order (base first on even
positions, change first on odd), so a drift of the host's speed lands on
both. Each run is `perfbench/run.py --workload ingest --trace 0` in its
checkout, for BENCHMARK.json's `run_seconds`; the first run of a checkout
also builds it (about 3.5 min). At least three seeds are required: a
single run on a shared VM varies up to 2x and is not evidence.

It prints, for every end-to-end metric, each variant's median and its
quartile spread `(q3 - q1) / median`, the ratio of the medians, in how
many seed pairs the change was better, and the acceptance decision for a
claimed gain on that metric: `gain` when the change is better in at least
nine of every ten pairs AND its median beats the base median by more than
the distance between the base's quartiles (q3 - q1), `no gain` otherwise.
`--out` also writes every run's metrics as JSON.
"""
import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def checkout(spec, workdir):
    """A directory to run `spec` in: itself if it is one, else an export
    of the git revision it names."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--verify", spec + "^{commit}"],
                         capture_output=True, text=True, check=True).stdout.strip()
    out = os.path.abspath(os.path.join(workdir, sha[:12]))
    if not os.path.isdir(out):
        tar = subprocess.run(["git", "-C", REPO, "archive", sha],
                             capture_output=True, check=True).stdout
        os.makedirs(out + ".tmp", exist_ok=True)
        with tarfile.open(fileobj=io.BytesIO(tar)) as t:
            t.extractall(out + ".tmp")
        os.rename(out + ".tmp", out)
    return out


def run_once(cwd, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
    if p.returncode != 0:
        print(p.stderr[-2000:], file=sys.stderr)
    return {"seed": seed, "rc": p.returncode, "wall_s": round(time.time() - t0, 1),
            "correct": res.get("correct"),
            "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}}


def summary(values):
    if len(values) < 2:
        return None
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def gain_accepted(base, change, wins, pairs, lower):
    """The rule a claimed gain must meet: better in at least 9 of every 10
    seed pairs, and a median gap larger than the base's quartile distance."""
    gap = base["median"] - change["median"] if lower else change["median"] - base["median"]
    return pairs > 0 and wins * 10 >= 9 * pairs and gap > base["q3"] - base["q1"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout directory or git revision")
    ap.add_argument("--change", default=".", help="checkout directory or git revision")
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--workload", default="ingest")
    ap.add_argument("--workdir", default=os.path.join(REPO, ".bench_build", "ab"))
    ap.add_argument("--out")
    a = ap.parse_args()
    if len(a.seeds) < 3:
        ap.error("at least three seeds: a single pair is not evidence")
    bench = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    dirs = {"base": checkout(a.base, a.workdir), "change": checkout(a.change, a.workdir)}
    runs = {"base": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for v in order:
            r = run_once(dirs[v], a.workload, seed, bench["run_seconds"])
            runs[v].append(r)
            print(f"{v:6s} seed {seed}: rc {r['rc']} correct {r['correct']} "
                  f"{r['wall_s']} s " + ", ".join(
                      f"{k}={r['metrics'][k]:.4g}" for k in e2e if k in r["metrics"]),
                  flush=True)
    report = {"workload": a.workload, "seeds": a.seeds, "dirs": dirs,
              "runs": runs, "metrics": {}}
    print(f"\n{a.workload}: median [spread] over {len(a.seeds)} interleaved seed pairs")
    for name, m in e2e.items():
        by_seed = {v: {r["seed"]: r["metrics"][name] for r in runs[v]
                       if name in r["metrics"]} for v in runs}
        s = {v: summary(list(by_seed[v].values())) for v in runs}
        if not s["base"] or not s["change"]:
            continue
        lower = m["better"] == "lower"
        wins = sum(1 for seed, b in by_seed["base"].items() if seed in by_seed["change"]
                   and (by_seed["change"][seed] < b if lower else by_seed["change"][seed] > b))
        ratio = s["change"]["median"] / s["base"]["median"] if s["base"]["median"] else float("nan")
        pairs = sum(1 for seed in by_seed["base"] if seed in by_seed["change"])
        accepted = gain_accepted(s["base"], s["change"], wins, pairs, lower)
        report["metrics"][name] = {"base": s["base"], "change": s["change"],
                                   "ratio": ratio, "change_better_pairs": wins,
                                   "pairs": pairs, "gain_accepted": accepted}
        print(f"  {name:18s} base {s['base']['median']:10.4g} [{s['base']['spread']:.3f}]"
              f"  change {s['change']['median']:10.4g} [{s['change']['spread']:.3f}]"
              f"  ratio {ratio:.3f}  better in {wins}/{pairs} pairs ({m['better']})"
              f"  {'gain' if accepted else 'no gain'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
