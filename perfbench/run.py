#!/usr/bin/env python3
"""Build the engine from source, build the benchmark program, run one workload.

    python3 perfbench/run.py --workload opinions_ingest --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --list-metrics

Run from the repository root. The engine (src/main/scala) and the benchmark
program (perfbench/src) are compiled with the Scala compiler that ships in
Spark's jar directory ($SPARK_HOME/jars, or the one beside spark-submit on
the PATH), so the build needs neither sbt nor build.sbt. Builds are cached under perfbench/.build,
keyed by a hash of the sources. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it
holds the workload's input properties and details of the run.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")

WORKLOADS = ("opinions_ingest", "snippets_ingest", "search_open_loop")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")]

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, files, classpath, extra=""):
    """Compiles `files` into perfbench/.build/<name>, unless the cached
    output was built from the same sources. Returns (dir, source hash)."""
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    key = digest(files, extra)
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return out, key
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD,
           "-cp", os.path.join(JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling {name} failed", 1)
    with open(stamp, "w") as fh:
        fh.write(key)
    print(f"perfbench: built {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, key


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
    fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")


JARS = spark_jars()


def build():
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine_files = scala_sources(engine_src)
    if not engine_files:
        fail("no engine sources under src/main/scala; run from the repository root")
    if not os.path.isdir(JARS) or not glob.glob(os.path.join(JARS, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler in {JARS}")
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(JARS, "*")
    engine, key = compile_tree("engine", engine_files, spark_cp)
    bench, _ = compile_tree("bench", scala_sources(os.path.join(HERE, "src")),
                            engine + os.pathsep + spark_cp, extra=key)
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = [engine, bench] + ([resources] if os.path.isdir(resources) else []) + [spark_cp]
    return os.pathsep.join(cp)


def java(cp, main, args, timeout):
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # everything the JVM and Spark write stays in the work directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            f"-Dderby.system.home={work}",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + JVM_FLAGS + ["-cp", cp, main] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{main} did not finish within {timeout} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def catalogue(cp):
    """The metric names and units the benchmark program emits."""
    out = os.path.join(BUILD, "metrics.json")
    if java(cp, "perfbench.Main", ["--list-metrics", out], 120) != 0:
        fail("listing metrics failed", 1)
    with open(out) as fh:
        return json.load(fh)


def check_result(res, names):
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if set(res["metrics"]) != set(names):
        raise ValueError(f"metrics {sorted(set(res['metrics']) ^ set(names))} differ")
    for name, m in res["metrics"].items():
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or v != v or abs(v) == float("inf"):
            raise ValueError(f"metric {name} is not a finite number: {v}")


def run(args):
    cp = build()
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    code = java(cp, "perfbench.Main",
                ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out],
                RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        fail(f"the benchmark program exited with {code}", 1)
    with open(out) as fh:
        full = json.load(fh)
    info = full.pop("info")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    check_result(full, [m["name"] for m in declared])
    for name, m in full["metrics"].items():
        print(f"{name:32s} {m['value']:>18.6f} {m['unit']}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "info": info}))
    print(json.dumps(full))


def self_test():
    """Checks BENCHMARK.json against the program's metric catalogue, then
    runs the program's own tests (generator determinism, rate-step logic)."""
    cp = build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cat = catalogue(cp)
    names = set()
    for section in ("end_to_end", "per_layer"):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        assert declared == cat[section], f"{section}: BENCHMARK.json and the program differ"
        for name, unit in declared.items():
            assert NAME_RE.match(name) and name not in names, f"bad or repeated name {name}"
            assert UNIT_RE.match(unit), f"bad unit {unit}"
            names.add(name)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert NAME_RE.match(w["name"]) and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    check_result({"correct": True, "attempted": 1, "failed": 0,
                  "metrics": {n: {"value": 1.5, "unit": u} for n, u in cat["end_to_end"].items()}},
                 cat["end_to_end"])
    print("perfbench: BENCHMARK.json matches the program's metric catalogue", file=sys.stderr)
    code = java(cp, "perfbench.SelfTest", [], RUN_TIMEOUT_S)
    if code != 0:
        fail("self-test failed", 1)
    print("perfbench: self-test passed")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--list-metrics", action="store_true")
    args = p.parse_args()
    os.chdir(ROOT)
    if args.self_test:
        self_test()
    elif args.list_metrics:
        print(json.dumps(catalogue(build())))
    else:
        if args.workload is None or args.seed is None or args.seconds is None:
            p.error("--workload, --seed and --seconds are required")
        run(args)


if __name__ == "__main__":
    main()
