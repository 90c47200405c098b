#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source with scalac (cached by source
digest under $CARGO_TARGET_DIR, default .bench_build), generates the
workload's inputs from the seed (cached per seed), runs the harness JVM as
a closed loop with one client at local[N], N = min(4, cores), checks every
operation's output, and prints two JSON lines: a detail record, then the
result line `{"correct", "attempted", "failed", "metrics"}`. An untraced run
reports the end-to-end metrics; a traced run (--trace 1) alternates
untraced and traced passes and reports the per-layer metrics, including the
tracing overhead. The traced run's spans are kept in
<build>/traces/<workload>-<seed>.spans.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import verify  # noqa: E402

DEADLINE_S = 170  # the whole run, build excluded
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build(root, bdir, jars):
    """Compile graft's main sources and the harness into one class dir,
    reused while no source changes."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(bdir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-cp", cp, "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("scalac failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    print(f"[perfbench] built {out} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def run_harness(cmd, log, budget_s):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded {budget_s:.0f} s; log in {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars(root)
    classes = build(root, bdir, jars)

    t_start = time.time()
    inputs = os.path.join(bdir, "inputs", f"{a.workload}-{a.seed}")
    manifest = gen.generate(a.workload, a.seed, inputs)

    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = min(4, len(os.sched_getaffinity(0)))
    ops = metrics.QUERIES.get(a.workload, [])
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Harness",
            "--workload", a.workload, "--input", inputs, "--out", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--seed", str(a.seed), "--ops", ",".join(ops) or "-"])
    log = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    rc = run_harness(cmd, log, DEADLINE_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        fail(f"harness exited {rc}; log in {log}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    # output checks, outside every timed region
    if a.workload == "mj_text":
        bad = verify.check_mj_text(res["ops"], manifest["expect"])
    else:
        bad = verify.check_queries(root, inputs, os.path.join(work, "outputs"), ops)
    errors = {o["name"]: o["error"] for o in res["ops"] if o["error"] is not None}
    failed_names = set(bad) | set(errors)
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if o["name"] in failed_names)

    spec = benchmark_spec(root)
    e2e_spec = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
    layer_spec = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    e2e, extra = metrics.end_to_end(res, manifest["input_mb"])
    detail = {"workload": a.workload, "seed": a.seed, "input_digest": manifest["digest"],
              "input_mb": manifest["input_mb"], "cpus": cpus, "clients": 1,
              "loop": "closed", "check_pass_s": res["check_pass_s"],
              "fail_ratio": failed / attempted, "errors": errors, "mismatches": bad,
              **extra, **e2e}
    if a.trace:
        spans_path = os.path.join(work, "spans.jsonl")
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f]
        values, spans = metrics.per_layer(res, spans, layer_spec, extra)
        os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
        kept = os.path.join(bdir, "traces", f"{a.workload}-{a.seed}.spans.jsonl")
        with open(kept, "w") as f:
            f.writelines(json.dumps(s, sort_keys=True) + "\n" for s in spans)
        detail.update(values, spans=kept)
        out = metrics.emit(values, layer_spec)
    else:
        out = metrics.emit(e2e, e2e_spec)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": not failed_names, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
