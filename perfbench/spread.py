"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread, the figures its bounds are set from.

    python3 perfbench/spread.py --workloads ingest analytics \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out perfbench/steadiness.json

For each workload and metric it records the ten values, their median and
`(q3 - q1) / median` with the quartiles of `statistics.quantiles(v, n=4)`,
and whether that spread is below a third of the metric's bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "seeds": a.seeds, "workloads": {}}
    for w in a.workloads:
        runs = []
        for s in a.seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
            # the host speed the run's times were scaled by (run.py's summary line)
            calib = next((float(kv.split("=")[1].split()[0]) for ln in lines
                          if ln.startswith("all metrics: ") for kv in ln[13:].split(", ")
                          if kv.startswith("host.calib_s=")), None)
            runs.append({"seed": s, "rc": p.returncode, "wall_s": round(time.time() - t0, 1),
                         "correct": res.get("correct"), "failed": res.get("failed"),
                         "host_calib_s": calib,
                         "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()}})
            print(f"{w} seed {s}: rc {p.returncode} {runs[-1]['wall_s']} s "
                  f"{runs[-1]['metrics']}", flush=True)
        stats = {}
        for m, bound in bounds.items():
            v = [r["metrics"][m] for r in runs if m in r["metrics"]]
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            stats[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                        "bound": bound, "below_third_of_bound": spread < bound / 3,
                        "values": v}
            print(f"  {w} {m}: median {med:.6g} spread {spread:.3f} (bound {bound})")
        report["workloads"][w] = {"runs": runs, "metrics": stats,
                                  "max_wall_s": max(r["wall_s"] for r in runs)}
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
