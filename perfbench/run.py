#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the library
and the harness with sbt (the classpath is cached under .bench_build/
until a source changes) and generates the dataset. The run then starts one JVM
(`local[4]`), sets the workload up, runs it for --seconds, checks every
distinct result against an independent reference, and prints a table of
metrics followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones. `--corrupt` damages one dumped result
before the check, to show the check catches it (see selftest.py).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ["snapshot_mix", "graph_corpus", "ivm_ingest"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256(root.encode())
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for pattern in ("src/main/**/*", "perfbench/src/**/*"):
        files += sorted(os.path.relpath(p, root) for p in glob.glob(os.path.join(root, pattern), recursive=True)
                        if os.path.isfile(p))
    for rel in files:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compile graft and the harness into jars once per source state.
    Returns the classpath."""
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            cp = open(cp_file).read().strip()
            if all(os.path.exists(j) for j in cp.split(os.pathsep)):
                return cp
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        env = dict(os.environ)
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
        env.setdefault("COURSIER_MODE", "offline")
        log = os.path.join(out, "build.log")
        with open(log, "w") as f:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                                "export Runtime/fullClasspathAsJars"],
                               cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                               stderr=f, text=True, env=env)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"build failed (exit {r.returncode}); see {log}", 1)
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def run_jvm(cp, args, work):
    cmd = (["java", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(l for l in f.readlines()[-60:]))
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}", 1)


def metric_specs(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(path))
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true", help="damage one result before the check")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    e2e_specs, layer_specs = metric_specs(root)

    out = os.path.join(root, ".bench_build", "perfbench")
    data = os.path.join(out, "data")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "data.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        datagen.write_tables(data)
    cp = build(root, out)

    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ivm_inputs = os.path.join(work, "ivm_inputs")
        if a.workload == "ivm_ingest":
            datagen.write_ivm_inputs(data, ivm_inputs, a.seed)
        result_path, checks_path = os.path.join(work, "result.json"), os.path.join(work, "checks.jsonl")
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), data, ivm_inputs, work,
                     result_path, checks_path] + (["corrupt"] if a.corrupt else []), work)
        res = json.load(open(result_path))
        n_checked, check_failed, reasons = check.run_checks(checks_path, data, a.seed)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, res["attempted"])
    failed = min(attempted, res["failed_in_run"] + check_failed)
    values = res["end_to_end"] if a.trace == 0 else res["per_layer"]
    specs = e2e_specs if a.trace == 0 else layer_specs
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}

    res.update({"workload": a.workload, "seed": a.seed, "trace": a.trace, "checked": n_checked,
                "failed": failed, "check_failures": reasons})
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f)

    for r in reasons[:20]:
        print(f"check failed: {r}")
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {attempted} ops, {failed} failed "
          f"(failed_frac {failed / attempted:.4f}), {n_checked} results checked")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
    print("  context: " + ", ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                    for k, v in res["context"].items()))
    print(json.dumps({"correct": failed == 0 and n_checked > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
