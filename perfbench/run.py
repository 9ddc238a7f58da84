#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload analytics|corpus --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine's
sources and the harness into .bench_build/ (about a minute); later runs
reuse the classes while no source changed. Each run keeps all of its
state, starting from a copy of the tables in perfbench/data/, in
.bench_work/<run>/ and deletes it afterwards. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
ROOT = os.getcwd()
HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else the jars
    beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources(root):
    out = []
    for top, _, files in os.walk(root):
        out += [os.path.join(top, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_once(name, out, srcs, extra_cp):
    """Compile `srcs` into `out` with the Scala compiler that ships in
    the Spark jars, unless an earlier run already did."""
    if os.path.exists(os.path.join(out, "ok")):
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(out, "sources.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", os.path.join(out, "classes"), "-classpath", os.pathsep.join(extra_cp + [cp]),
                        "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling the {name} failed")
    open(os.path.join(out, "ok"), "w").close()


def build():
    """The engine's and the harness's class directories, each reused
    while its sources (and, for the harness, the engine's) are unchanged;
    and the build key, a hash of every source file."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not main_src:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    top = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    main_key = digest(main_src)
    key = digest(bench_src, main_key)
    main_out, bench_out = os.path.join(top, "main-" + main_key), os.path.join(top, "harness-" + key)
    compile_once("engine", main_out, main_src, [])
    compile_once("harness", bench_out, bench_src, [os.path.join(main_out, "classes")])
    return [os.path.join(main_out, "classes"), os.path.join(bench_out, "classes")], key


def java_cmd(classes, work, main, args):
    return (["java", *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
             "-Dspark.ui.enabled=false",
             "-cp", os.pathsep.join(classes + [os.path.join(spark_jars(), "*")]),
             main] + [str(a) for a in args])


def commit():
    """The checked-out commit, or "unknown" outside a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def run_java(cmd, work):
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the harness ran over {RUN_TIMEOUT_S} s")


def remove_work(work):
    """Delete a run's state, and .bench_work/ too once no run is left."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["analytics", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # planted defects for perfbench/test_perfbench.py
    ap.add_argument("--goldens", default=os.path.join(HERE, "goldens.json"))
    ap.add_argument("--plant-throw", default=None)
    a = ap.parse_args()
    if os.environ.get("GRAFT_EXTRA_CONF"):
        fail("GRAFT_EXTRA_CONF is set; the benchmark measures the default session only")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json: run from the root of a checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    classes, key = build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        shutil.copytree(DATA, os.path.join(work, "data"))
        result_path = os.path.join(work, "result.json")
        args = [a.workload, a.seed, a.seconds, a.trace, os.path.join(work, "data"), work,
                os.path.abspath(a.goldens), result_path] + ([a.plant_throw] if a.plant_throw else [])
        code = run_java(java_cmd(classes, work, "perfbench.Main", args), work)
        if code != 0 or not os.path.exists(result_path):
            fail(f"the harness exited with code {code}")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        remove_work(work)

    listed = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in res["metrics"]]
    if missing:
        fail(f"the harness did not report {missing}")
    info = dict(res["info"], commit=commit(), build=key, heap=HEAP, failures=res["failures"])
    print(json.dumps({"info": info}))
    if a.trace:
        print("span                      count    total_s     self_s", file=sys.stderr)
        print("\n".join(res["spans"]), file=sys.stderr)
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in listed},
    }))
    sys.exit(0 if res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
