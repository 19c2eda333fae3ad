#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script
  1. builds the engine and the harness from source (sbt, in perfbench/;
     skipped when the sources are unchanged since the last build),
  2. generates the input tables once per checkout (perfbench/gen_tables.py),
  3. runs the workload in a fresh JVM (perfbench.Main) on local[4],
  4. prints every metric by name with its unit, the output checks, and, as
     the last line, one JSON object: {"correct", "attempted", "failed",
     "metrics"}. --trace 0 reports the end-to-end metrics of BENCHMARK.json,
     --trace 1 the per-layer metrics, each beside the end-to-end metrics it
     should move (perfbench/workloads.json, "layer_map").

Everything it writes stays under .perfbench/ in the checkout; the span file
of a traced run is kept as .perfbench/traces/<workload>-seed<n>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
STATE = os.path.join(ROOT, ".perfbench")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(STATE, "build.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("build failed", 3)
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def tables(spec):
    """Generate each scale's tables once; the generator's own hash keys them."""
    with open(os.path.join(BENCH, "gen_tables.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()
    data = os.path.join(STATE, "data")
    for scale in sorted({w["scale"] for w in spec["workloads"].values()}):
        out = os.path.join(data, "sf" + scale)
        done = os.path.join(out, "_DONE")
        if os.path.exists(done) and open(done).read() == gen_hash:
            continue
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), out, scale],
                       check=True, stdout=sys.stderr)
        with open(done, "w") as f:
            f.write(gen_hash)
    return data


def run_jvm(classes, data, args, launched_ms):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 install")
    work = os.path.join(STATE, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "ckpt"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--work", work,
           "--spec", os.path.join(BENCH, "workloads.json"), "--launched-ms", str(launched_ms)]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 4)
    finally:
        keep(work, args)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with {proc.returncode}", 5)
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def keep(work, args):
    """Keep the span file and the check outputs; drop the rest of the run."""
    for name, dest in (("trace.jsonl", f"traces/{args.workload}-seed{args.seed}.jsonl"),
                       ("check_outputs.tsv", f"checks/{args.workload}-seed{args.seed}.tsv")):
        src = os.path.join(work, name)
        if os.path.exists(src):
            os.makedirs(os.path.dirname(os.path.join(STATE, dest)), exist_ok=True)
            shutil.move(src, os.path.join(STATE, dest))
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}; known: {', '.join(spec['workloads'])}")

    classes = build()
    data = tables(spec)
    res = run_jvm(classes, data, args, int(time.time() * 1000))

    source, defs = ("layers", bench["per_layer"]) if args.trace else ("e2e", bench["end_to_end"])
    metrics = {}
    for m in defs:
        v = res[source].get(m["name"])
        if v is None and args.trace:
            v = 0.0  # this workload does no work in that layer
        if not isinstance(v, (int, float)):
            fail(f"harness did not report {m['name']} as a number: {v!r}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}")
    layer_map = spec.get("layer_map", {})
    for name, m in metrics.items():
        moves = layer_map.get(name)
        beside = f"  -> {', '.join(moves)}" if moves else ""
        print(f"  {name:34s} {m['value']:>16.4f} {m['unit']}{beside}")
    for name, c in res["checks"].items():
        print(f"  check {name}: {'PASS' if c['ok'] else 'FAIL'} ({c['detail']})")
    frac = res["failed"] / max(res["attempted"], 1)
    print(f"  failed_frac {frac:.6f} ({res['failed']} of {res['attempted']} operations)")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
