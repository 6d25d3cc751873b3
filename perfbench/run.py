"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload build|serve|lsm|neardup \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the engine and the
benchmark (perfbench/build.py). Each run is one JVM with a fixed heap,
Spark local[nproc] and nproc shuffle partitions. The last line of standard
output is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics untraced, the per-layer metrics with --trace 1). A
traced run also reports the tracing overhead of every end-to-end metric:
its own end-to-end values minus those of the untraced run with the same
workload and seed, which it runs first when none is recorded.

Everything a run leaves goes under .bench_build/ in the checkout: the
classes, a log per JVM, the untraced results and the span files.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.BUILD_DIR
HEAP = "3g"
# each JVM is killed if it runs longer than this
DEADLINE_S = 170.0
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def java(classes, main, args, log_name):
    """Runs one JVM to completion (or kills it at the deadline)."""
    jars, _ = build.spark_jars()
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    tmp = os.path.join(OUT, "work", f"{log_name}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write under the system temp dir
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args
    cmd += ["--work", tmp]
    log = os.path.join(OUT, "logs", f"{log_name}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=tmp,
                             start_new_session=True)
        try:
            code = p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)  # any process it left behind
            except ProcessLookupError:
                pass
    shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(f"{log_name}: deadline passed; log in {log}")
    return code, log


def run_workload(classes, a, trace):
    tag = f"{a.workload}-seed{a.seed}-t{int(trace)}"
    out = os.path.join(OUT, "results", f"{tag}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if trace else "0", "--nproc", str(nproc()),
            "--out", out, "--trace-file", os.path.join(OUT, "traces", f"{tag}.jsonl")]
    code, log = java(classes, "perfbench.Main", args, tag)
    if code != 0 or not os.path.exists(out):
        fail(f"{tag}: JVM exited with {code}; log in {log}")
    with open(out) as fh:
        r = json.load(fh)
    r["classes"] = os.path.basename(classes)
    r["seconds"] = a.seconds
    with open(out, "w") as fh:
        json.dump(r, fh)
    return r


def untraced_baseline(classes, a):
    """The untraced result of this workload, seed and build, run if missing."""
    path = os.path.join(OUT, "results", f"{a.workload}-seed{a.seed}-t0.json")
    if os.path.exists(path):
        with open(path) as fh:
            r = json.load(fh)
        if r.get("classes") == os.path.basename(classes) and r.get("seconds") == a.seconds:
            return r
    return run_workload(classes, a, trace=False)


def nproc():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["build", "serve", "neardup", "lsm"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        classes = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))
    if a.selftest:
        code, log = java(classes, "perfbench.SelfTest", [], "selftest")
        with open(log) as fh:
            sys.stdout.write(fh.read())
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")

    if a.trace:
        base = untraced_baseline(classes, a)
        r = run_workload(classes, a, trace=True)
        for m in r["e2e"]:
            r["layers"][f"overhead.{m}"] = r["e2e"][m]["value"] - base["e2e"][m]["value"]
        for n, v in r["layers"].items():
            print(f"layer {n} = {v}")
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {m["name"]: {"value": r["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"] if m["name"] in r["layers"]}
    else:
        r = run_workload(classes, a, trace=False)
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: r["e2e"][n] for n in names if n in r["e2e"]}
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"metrics missing from the run: {missing}")

    for line in r["info"]:
        print(line)
    bad = [c for c in r["checks"] if not c["ok"]]
    print(f"checks: {len(r['checks']) - len(bad)}/{len(r['checks'])} passed")
    for c in bad:
        print(f"  FAILED {c['name']}: {c['detail']}")
    for n, m in metrics.items():
        print(f"metric {n} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
