"""Benchmark entry point: one closed-loop, one-client run of one workload.

    python3 perfbench/run.py --workload etl_requests --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds the engine and harness if needed
(perfbench/build.py), generates the workload's inputs from the seed into a
fresh run directory, runs the harness JVM, checks its outputs, removes the
run directory and prints one JSON result line last on stdout. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones. The full
record of the run is kept in .bench_build/perfbench/artifacts/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".bench_build", "perfbench")
DEADLINE_S = 170  # the run after the build, generation and checks included
# one core of the box is left to the driver thread, GC and the JIT compiler
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
HEAP = "1536m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class Stop(Exception):
    pass


def on_signal(signum, _frame):
    raise Stop("signal %d" % signum)


def run_jvm(classpath, args, root, budget_s):
    # The heap is reserved but not pre-touched, so a page is resident only
    # once the engine has used it. The young generation is fixed, so the
    # peak resident set follows the old-generation data the engine retains
    # rather than G1's pause-time sizing of the young generation.
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn256m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=budget_s)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)

    try:
        classpath = build.build()
    except build.BuildError as e:
        print("perfbench: cannot build: %s" % e, file=sys.stderr)
        return 2
    t_start = time.time()

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    root = tempfile.mkdtemp(prefix="%s-s%d-" % (a.workload, a.seed),
                            dir=os.path.join(WORK, "runs"))
    try:
        inputs = os.path.join(root, "inputs")
        meta = gen.generate(a.workload, a.seed, inputs)
        out = os.path.join(root, "record.json")
        budget = DEADLINE_S - (time.time() - t_start)
        code = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--root", root, "--out", out,
            "--cores", str(CORES)], root, budget)
        if code != 0 or not os.path.exists(out):
            print("perfbench: harness exited with code %d" % code, file=sys.stderr)
            return 1
        with open(out) as f:
            rec = json.load(f)
        store = stats.store_ratio(rec["store_dirs"], stats.store_input_bytes(rec))
    except (Stop, subprocess.TimeoutExpired) as e:
        print("perfbench: run aborted: %r" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(root, ignore_errors=True)

    ops = rec["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"]) + len(rec["final_state_errors"])
    for o in ops:
        if not o["ok"]:
            print("perfbench: op %d %s failed: %s" % (o["i"], o["name"], o["error"]),
                  file=sys.stderr)
    for e in rec["final_state_errors"]:
        print("perfbench: final state: %s" % e, file=sys.stderr)
    if attempted == 0:
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    e2e, e2e_detail = stats.end_to_end(rec, store)
    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "loop": rec["loop"], "inputs": meta,
                "setup_s_samples": rec["setup_s"],
                "loop_s": rec["loop_s"], "check_s": rec["check_s"],
                "fail_ratio": failed / attempted, "end_to_end": e2e,
                "end_to_end_detail": e2e_detail,
                "ops_stalled": sum(1 for o in ops if o["stall_ms"] > 0),
                "steal_ticks_total": sum(max(0, o["steal_ticks"]) for o in ops),
                "ops": [{k: v for k, v in o.items() if k != "spans" and k != "jobs"}
                        for o in ops]}
    if a.trace:
        metrics, layer_detail = stats.per_layer(rec)
        artifact["per_layer"] = metrics
        artifact["per_layer_detail"] = layer_detail
        artifact["unattributed_jobs"] = rec["unattributed_jobs"]
        artifact["spans_and_jobs"] = [{"i": o["i"], "spans": o["spans"], "jobs": o["jobs"]}
                                      for o in ops]
        plain = os.path.join(WORK, "artifacts", "%s_seed%d_trace0.json" % (a.workload, a.seed))
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]["op_p50_s"]
            artifact["trace_overhead_op_p50_s"] = metrics["trace.op_p50_s"] - base
            print("perfbench: tracing overhead on op_p50_s: %+.4f s (traced %.4f, untraced %.4f)"
                  % (metrics["trace.op_p50_s"] - base, metrics["trace.op_p50_s"], base),
                  file=sys.stderr)
        units = dict(stats.PER_LAYER)
    else:
        metrics = e2e
        units = dict(stats.END_TO_END)
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    with open(os.path.join(WORK, "artifacts", "%s_seed%d_trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(artifact, f, indent=1)
    correct = failed == 0 and all(not math.isnan(v) for v in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
