"""Lifecycle benchmark of the curation engine: `ingest`, `serve`, `analytics`.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

It builds the engine and the benchmark from source (perfbench/build.py)
and, once per build, a class-data sharing archive of the classes a run
loads; generates the workload's inputs from the seed (perfbench/gen.py),
runs one JVM that sets the workload up, measures its closed loop for
`--seconds` (at least one operation) and checks outputs, then prints a
JSON line with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. Each run works in
its own directory under .bench_build/perfbench/runs (deployment, Spark
local dir, JVM temp dir), deleted at exit; a traced run keeps its spans
in .bench_build/perfbench/traces. `--selftest` runs the attribution
checks of perfbench/src/perfbench/SelfTest.scala instead.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark's directory source-only
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

OUT = ".bench_build/perfbench"
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_BUDGET_S = 150          # per run, excluding the build; a run must end within 180 s
TRAIN_BUDGET_S = 400        # the once-per-build class archive training run
PRIMARY = "op_p50_s"        # the metric the tracing overhead is taken on
# Median host.calib_s on the 4-vCPU VM the bounds were set on. End-to-end
# times are scaled by CALIB_REF_S / host.calib_s: seconds at that speed.
CALIB_REF_S = 0.5
SCALED = {"setup_s": 1, "op_p50_s": 1, "throughput_per_s": -1}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def run_jvm(cp, main, args, log, deadline, tmp, cds=()):
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            # record deep call sites: a job's module is read off them
            "-Dspark.callstack.depth=400", "-Dlog4j2.level=ERROR"]
           + list(cds) + build.ADD_OPENS + ["-cp", cp, main] + args)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def class_archive(cp):
    """JVM flags that load the classes a run needs from a class-data
    sharing archive. The archive is made once per build by a training run
    (perfbench.Train over both workloads' set-up and one operation, on
    seed-0 inputs), and is keyed by the build's stamps. Without it a run
    spends about 9 s more loading and verifying Spark's classes. If the
    training run fails, runs go without an archive."""
    jsa = os.path.abspath(f"{OUT}/classes.jsa")
    key = cp + "".join(open(f"{OUT}/{d}/.stamp").read() for d in ("engine", "bench"))
    stamp = jsa + ".key"
    if os.path.exists(jsa) and os.path.exists(stamp) and open(stamp).read() == key:
        return [f"-XX:SharedArchiveFile={jsa}"]
    for f in (jsa, stamp):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.abspath(f"{OUT}/train-{os.getpid()}")
    try:
        args = [f"{work}/root"]
        for w in ("ingest", "analytics"):
            subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), w, "0",
                            f"{work}/{w}"], check=True, stdout=subprocess.DEVNULL)
            args.append(f"{w}={work}/{w}")
        os.makedirs(f"{work}/tmp")
        rc = run_jvm(cp, "perfbench.Train", args, f"{OUT}/train.log",
                     time.time() + TRAIN_BUDGET_S, f"{work}/tmp",
                     cds=[f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc == 0 and os.path.exists(jsa):
        with open(stamp, "w") as f:
            f.write(key)
        return [f"-XX:SharedArchiveFile={jsa}"]
    print(f"perfbench: class archive training failed (see {OUT}/train.log); "
          "running without it", file=sys.stderr)
    if os.path.exists(jsa):
        os.remove(jsa)
    return []


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "serve", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    # a SIGTERM from the caller must still clean up the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        cp = build.build(OUT)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    cds = class_archive(cp)
    t_start = time.time()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    run_dir = os.path.abspath(f"{OUT}/runs/{name}-{os.getpid()}")
    data, root, tmp = (f"{run_dir}/{d}" for d in ("data", "root", "tmp"))
    try:
        for d in (data, root, tmp):
            os.makedirs(d)
        if a.selftest:
            rc = run_jvm(cp, "perfbench.SelfTest", [root], f"{run_dir}/jvm.log",
                         t_start + JVM_BUDGET_S, tmp, cds)
            with open(f"{run_dir}/jvm.log", errors="replace") as f:
                print("".join(line for line in f if line.startswith(
                    ("PASS", "FAIL", "selftest", "serveAnn"))), end="")
            sys.exit(0 if rc == 0 else 1)
        return measure(a, cp, cds, run_dir, data, root, tmp, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(a, cp, cds, run_dir, data, root, tmp, t_start):
    bench = spec()
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    t0 = time.time()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    a.workload, str(a.seed), data], check=True)
    gen_s = time.time() - t0
    out, log = f"{run_dir}/result.json", f"{run_dir}/jvm.log"
    spans = os.path.abspath(f"{OUT}/traces/{a.workload}-seed{a.seed}.jsonl")
    rc = run_jvm(cp, "perfbench.Main",
                 ["--workload", a.workload, "--data", data, "--root", root,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--out", out, "--spans", spans],
                 log, t_start + JVM_BUDGET_S, tmp, cds)
    if rc != 0 or not os.path.exists(out):
        fail(f"{a.workload} run {'timed out' if rc is None else f'exited {rc}'}:\n"
             + tail(log), 1)
    with open(out) as f:
        res = json.load(f)
    metrics = {k: v for k, v in res["metrics"].items() if v["value"] is not None}
    attempted, failed, notes = res["attempted"], res["failed"], res["notes"]
    oracle_s = 0.0
    if a.workload == "analytics":
        import oracle
        t0 = time.time()
        for q, diff in oracle.compare(data, f"{root}/oracle").items():
            attempted += 1
            if diff:
                failed += 1
                notes.append(f"oracle {q}: {diff}")
        oracle_s = time.time() - t0
    setup_s = gen_s + metrics["jvm_setup_s"]["value"] + oracle_s
    metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    metrics["ok_ratio"] = {"value": (attempted - failed) / attempted, "unit": "ratio"}
    speed = CALIB_REF_S / metrics["host.calib_s"]["value"]
    for name, power in SCALED.items():
        if name in metrics:
            metrics[name + "_raw"] = dict(metrics[name])
            metrics[name]["value"] *= speed ** power
    last = os.path.abspath(f"{OUT}/last_untraced/{a.workload}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(metrics, f)
    else:
        try:
            with open(last) as f:
                base = json.load(f)[PRIMARY]["value"]
            over = (metrics[PRIMARY]["value"] / base - 1.0) * 100.0
        except (OSError, KeyError, ValueError, ZeroDivisionError):
            over = 0.0
            notes.append("trace overhead: no untraced run of this workload yet")
        metrics["trace.overhead_pct"] = {"value": over, "unit": "%"}
    for n in notes:
        print(f"note: {n}")
    print("all metrics: " + ", ".join(
        f"{k}={v['value']:.6g} {v['unit']}" for k, v in sorted(metrics.items())))
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    chosen = {n: {"value": metrics[n]["value"] if n in metrics else 0.0,
                  "unit": units[n]} for n in wanted}
    missing = [n for n in wanted if n not in metrics and a.trace == 0]
    correct = failed == 0 and not missing
    if missing:
        notes.append(f"missing metrics: {missing}")
        print(f"note: missing metrics: {missing}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": chosen}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
