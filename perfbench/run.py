"""The graft lakehouse benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), runs one
workload in one JVM on local[N] with one client thread, checks every
output, and prints a human-readable report followed, as the last line,
by one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics,
with --trace 1 its per_layer metrics. WORKLOADS.md says what each
workload and metric is.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest_refresh", "table_dml")
MAX_CORES = 4
JVM_TIMEOUT_S = 165


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return n, min(MAX_CORES, n)


def git_commit():
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, work, out, log):
    cmd = build.jvm_command(["--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds), "--trace", str(args.trace),
                             "--cores", str(cores()[1]), "--out", out], work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def load_spec():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = load_spec()

    build.build()
    bd = build.build_dir()
    work = os.path.abspath(os.path.join(bd, "work", args.workload))
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    for d in ("out", "logs"):
        os.makedirs(os.path.join(bd, d), exist_ok=True)
    out = os.path.abspath(os.path.join(bd, "out", tag + ".json"))
    log = os.path.join(bd, "logs", tag + ".log")
    nproc, n = cores()
    env = {"nproc": nproc, "local_cores": n, "heap": build.HEAP, "git_commit": git_commit(),
           "seed": args.seed, "loadavg_start": os.getloadavg()}
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    code = run_jvm(args, work, out, log)
    shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    env["wall_s"] = round(time.time() - t0, 3)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write("benchmark JVM %s; log: %s\n" % (
            "timed out" if code is None else "exited %s" % code, log))
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        return 1
    with open(out) as f:
        rec = json.load(f)
    env.update(rec["env"])

    s = metrics.summary(rec)
    print("env " + json.dumps(env, sort_keys=True))
    for c in rec["checks"]:
        print("check %-40s %s  %s" % (c["name"], "ok" if c["ok"] else "FAILED", c["detail"][:300]))
    for note in rec["notes"]:
        print("note " + note[:300])
    print("summary " + json.dumps(s, sort_keys=True))
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        vals = metrics.layers(rec, names)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        print("spans written to " + out)
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        vals = {k: s.get(k) for k in names}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    record = {"env": env, "summary": s, "metrics": vals}
    with open(os.path.join(bd, "out", tag + ".metrics.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    failed = s["failed"] + sum(1 for k in names if vals.get(k) is None)
    result = {
        "correct": failed == 0,
        "attempted": s["attempted"],
        "failed": failed,
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
