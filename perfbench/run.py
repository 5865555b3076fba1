#!/usr/bin/env python3
"""dipa-spark benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
                             [--scale <f>]

Run from the repository root. Builds the engine (src/main/scala) and the
benchmark (perfbench/src) into .bench_build/ with the Scala compiler shipped
in the Spark distribution, runs the workload in one JVM (local[nproc]),
checks its outputs, prints a report and, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. Workload
`all` runs every workload at the seed (untraced, then traced when --trace 1,
which also reports the tracing overhead) and prints the report only.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("detect_dense", "collab_spread", "curate_replay")
JVM_TIMEOUT_S = 165
HEAP = "2g"
OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root, rel):
    base = os.path.join(root, rel)
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark distribution at {home}")
    return os.path.join(jars, "*")


def build(root, build_dir):
    """Compile engine + benchmark unless the source digest is unchanged."""
    engine = sources(root, "src/main/scala")
    bench = sources(root, "perfbench/src")
    if not engine:
        fail("engine sources (src/main/scala) not found; run from the repository root")
    digest = hashlib.sha256()
    for f in engine + bench:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    os.makedirs(build_dir, exist_ok=True)
    stamp = os.path.join(build_dir, "classes.sha256")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    jars = spark_jars()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    for srcs in (engine, bench):
        cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
               "-d", classes, "-classpath", f"{classes}:{jars}"] + srcs
        r = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


def run_jvm(root, classes, work, args, workload, trace):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", "-XX:-UsePerfData"] + [x for o in OPENS for x in ("--add-opens", o)] +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{spark_jars()}", "perfbench.Main",
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", "1" if trace else "0", "--work", work, "--out", out,
            "--scale", str(args.scale)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: timed out after {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload}: JVM exited with {code}")
    with open(out) as fh:
        return json.load(fh)


def fmt(v):
    return "n/a" if v is None else (f"{v:.4f}" if isinstance(v, float) else str(v))


def run_one(root, classes, build_dir, args, workload, trace):
    work = os.path.join(build_dir, "runs", f"{workload}-{args.seed}-{int(trace)}")
    t0 = time.time()
    res = run_jvm(root, classes, work, args, workload, trace)
    t1 = time.time()
    bad = metrics.oracle_mismatches(res, os.path.join(build_dir, "oracle-cache"))
    t2 = time.time()
    attempted, failed = metrics.failures(res, bad)
    e2e = metrics.end_to_end(res)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    key = f"{workload}-{args.seed}-{args.seconds}-{args.scale}"

    print(f"== {workload} seed={args.seed} trace={int(trace)} window={res['window_s']:.2f}s "
          f"jvm={t1 - t0:.1f}s checks={t2 - t1:.1f}s stamp={json.dumps(metrics.stamp(res))}")
    for name, (v, unit, n) in metrics.named(res, attempted, failed).items():
        print(f"  {name:<22} {fmt(v):>12} {unit:<6} n={n}")
    if bad or res.get("mismatches"):
        print(f"  mismatches: {bad + res.get('mismatches', [])}")
    if trace:
        per, detail = metrics.layers(res)
        with open(os.path.join(results, key + "-trace.json"), "w") as fh:
            json.dump({"spans": res["spans"], "layers": res["layers"],
                       "progress": res.get("progress")}, fh)
        for name, (v, unit) in list(per.items()) + list(detail.items()):
            print(f"  {name:<32} {fmt(v):>14} {unit}")
        base = os.path.join(results, key + "-e2e.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)
            for name, (v, unit) in e2e.items():
                print(f"  overhead.{name:<23} {fmt(v - untraced[name]):>14} {unit} "
                      f"(traced {fmt(v)} - untraced {fmt(untraced[name])})")
        else:
            print("  overhead: run the same workload/seed with --trace 0 first")
        out_metrics = per
    else:
        with open(os.path.join(results, key + "-e2e.json"), "w") as fh:
            json.dump({k: v for k, (v, _) in e2e.items()}, fh)
        out_metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    t = time.time()
    classes = build(root, build_dir)
    print(f"build ready in {time.time() - t:.1f}s")
    if args.workload == "all":
        for w in WORKLOADS:
            run_one(root, classes, build_dir, args, w, False)
            if args.trace:
                run_one(root, classes, build_dir, args, w, True)
        return
    line = run_one(root, classes, build_dir, args, args.workload, args.trace == 1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
