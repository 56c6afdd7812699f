"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (perfbench/build.py), generates the workload's inputs, runs the
workload in one fresh JVM with the benchmark's own JVM options
(perfbench/workloads.json), and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. The line before it records the conditions of the run (cores, heap,
JVM options, load average before and after, other JVMs on the box, the
share of CPU time stolen by the hypervisor, each set-up time).

When an op fails or returns a wrong result, the result line says
"correct": false and the exit code is 1. When the checkout cannot be built
or run, it exits 2 without a result line.
Everything the run writes stays under <checkout>/.bench_build.

Two more options, not used by the benchmark itself:
    --mode freeze    record the result checksum of each of the workload's
                     ops (workloads.json) in perfbench/expected.json
    --corrupt OP     check OP against a wrong expectation (the gate's
                     self-test: the run must say "correct": false, exit 1)
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen_data  # noqa: E402

RUN_LIMIT_S = 170  # the run, after the build, must end within this
# setup_s is the median of this many set-ups, each in a fresh JVM: the main
# JVM's own and that of JVMs which only set up and exit.
SETUPS = 3


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def other_jvms():
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                exe = f.read().split(b"\0")[0]
        except OSError:
            continue
        if exe.endswith(b"java"):
            n += 1
    return n


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7] if len(t) > 7 else 0, sum(t)
    except (OSError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--mode", default="bench", choices=["bench", "freeze"])
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(BENCH, "workloads.json")) as f:
            cfg = json.load(f)
    except (OSError, ValueError) as e:
        fail(2, f"cannot read the benchmark's configuration: {e}")
    w = cfg["workloads"].get(args.workload)
    if w is None:
        fail(2, f"unknown workload {args.workload}")

    out_root = os.path.join(ROOT, ".bench_build")
    os.makedirs(out_root, exist_ok=True)
    try:
        cp = build.build(out_root)
    except build.BuildError as e:
        fail(2, f"build: {e}")
    t_ready = time.time()

    data_dir = ""
    if w["kind"] == "queries":
        data_dir = gen_data.ensure(w["scale"], os.path.join(out_root, "data"))
    expected = {}
    if w["kind"] == "queries":
        with open(os.path.join(BENCH, "expected.json")) as f:
            expected = json.load(f).get(f"sf{w['scale']}", {})
    ops = w.get("ops", [])
    log_dir = os.path.join(out_root, "logs")
    os.makedirs(log_dir, exist_ok=True)
    env = dict(os.environ, MALLOC_ARENA_MAX="2")  # see workloads.json "about"
    proc = None

    def stop(signum, _frame):
        if proc is not None:
            proc.kill()
            proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    def run_jvm(mode, tag=""):
        """One fresh JVM over the workload; returns its result object."""
        nonlocal proc
        work = os.path.join(out_root, "run", f"{args.workload}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "derby"):
            os.makedirs(os.path.join(work, d))
        req = {
            "mode": mode, "workload": args.workload, "kind": w["kind"],
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "ops": ops, "settle_passes": w["settle_passes"], "data_dir": data_dir, "work_dir": work, "expected": expected,
            "result_file": os.path.join(work, "result.json"),
            "trace_file": os.path.join(out_root, "traces",
                                       f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
        }
        if args.corrupt:
            req["corrupt"] = args.corrupt
        with open(os.path.join(work, "request.json"), "w") as f:
            json.dump(req, f)
        cmd = (["java"] + cfg["jvm_options"] +
               [f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
                "-cp", cp, "perfbench.Main", os.path.join(work, "request.json")])
        rc = None
        log_path = os.path.join(log_dir, f"{args.workload}-seed{args.seed}-t{args.trace}{tag}.log")
        limit = RUN_LIMIT_S - (time.time() - t_ready) if mode != "freeze" else 3600
        try:
            with open(log_path, "w") as log:
                proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                        stderr=subprocess.STDOUT)
                try:
                    rc = proc.wait(timeout=max(limit, 1))
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                    fail(2, f"run exceeded {RUN_LIMIT_S} s; log in {log_path}")
            with open(req["result_file"]) as f:
                res = json.load(f)
        except (OSError, ValueError):
            res = {"error": f"JVM exited {rc} without a result"}
        finally:
            proc = None
            shutil.rmtree(work, ignore_errors=True)
        if "error" in res:
            fail(2, f"{res['error']}; log in {log_path}")
        return res

    context = {"nproc": os.cpu_count(), "jvm_options": cfg["jvm_options"],
               "load1_before": os.getloadavg()[0], "other_jvms_before": other_jvms()}
    ticks0 = cpu_ticks()
    if args.mode == "freeze":
        res = run_jvm("freeze")
        path = os.path.join(BENCH, "expected.json")
        with open(path) as f:
            frozen = json.load(f)
        frozen[f"sf{w['scale']}"] = res["checksums"]
        with open(path, "w") as f:
            json.dump(frozen, f, indent=1, sort_keys=True)
            f.write("\n")
        print(json.dumps(res, indent=1, sort_keys=True))
        return
    setups = [run_jvm("setup", f"-setup{i}")["setup_s"] for i in range(SETUPS - 1)]
    res = run_jvm("bench")
    setups.append(res["metrics"]["setup_s"])
    res["metrics"]["setup_s"] = statistics.median(setups)

    ticks1 = cpu_ticks()
    # Time the hypervisor gave this machine's CPUs to other guests, as a
    # share of all CPU time during the run.
    context["cpu_steal_share"] = ((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
                                  if ticks1[1] > ticks0[1] else 0.0)
    context.update(load1_after=os.getloadavg()[0], other_jvms_after=other_jvms(),
                   cores_seen_by_jvm=res["cores"], heap_max_mb=res["heap_max_mb"],
                   passes=res["passes"], failures=res["failures"], setups_s=setups)
    records = os.path.join(out_root, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"context": context, "result": res}, f, indent=1, sort_keys=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            fail(2, f"metric {m['name']} was not measured; logs in {log_dir}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = res["failed"] == 0
    print(json.dumps({"perfbench_context": context}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
