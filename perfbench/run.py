#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--cores C]

Run from the repository root. The first run in a checkout compiles the
engine with the benchmark (sbt, perfbench/build.sbt) and generates the
batch tables (graft.tools.GenData, sf0.1 row counts) into .bench_build/;
later runs reuse both while the sources are unchanged. Each run starts
one JVM (perfbench.Runner), checks every output outside the timed
region, prints a table of every metric by name and unit, and prints as
its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones from the traced run. Output checks:
batch results against their DuckDB oracle through tools/oracle_check.py,
report CSVs against their parquet twin, and the stream's sinks against a
batch evaluation of the same functions (inside the JVM).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tweet_reports", "llm_iterative", "tweet_stream")
JVM_TIMEOUT_S = 150
INFO_UNITS = {
    "check_s": "s", "drain_rps": "1/s", "failed_ratio": "fraction",
    "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "gen_late_p99_ms": "ms", "latency_samples": "count",
    "live_batches": "count", "live_rps": "1/s", "offered_rps": "1/s",
    "op_samples": "count", "passes": "count", "warmup_s": "s",
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if not n.endswith((".class", ".jar"))]
    return files


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_logged(cmd, log, timeout, cwd=ROOT, env=None):
    """Run `cmd` with its output in `log`; kill it after `timeout` s."""
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def tail(log, n=25):
    with open(log, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build(st):
    """Compile the engine plus the benchmark once per source stamp;
    returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{st}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], log, 800, cwd=HERE,
                    env=env)
    if rc != 0:
        die(f"build failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and os.pathsep in l), None)
    if cp is None:
        die(f"no classpath in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args)


def data_dir(cp):
    """The batch tables, generated once per version of the generator
    (always on 4 threads, so the files are the same for every --cores)."""
    st = stamp([os.path.join(ROOT, "src/main/scala/graft/tools/GenData.scala"),
                os.path.join(HERE, "src/main/scala/perfbench/DataPrep.scala")])
    d = os.path.join(BUILD, f"data-{st}")
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "dataprep.log")
    rc = run_logged(java_cmd(cp, "perfbench.DataPrep", [d, "4"], tmp),
                    log, 600)
    if rc != 0:
        die(f"data generation failed (exit {rc}):\n{tail(log)}")
    shutil.rmtree(d + ".work", ignore_errors=True)
    open(os.path.join(d, "_READY"), "w").close()
    return d


def run_dir(workload, seed, trace, cores):
    """Where a run keeps its outputs, spans and logs until the same
    workload, seed, trace and cores run again."""
    return os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-c{cores}")


def oracle_check(data, result_dir):
    """tools/oracle_check.py over one result directory: the repo's own
    DuckDB oracle and its exact comparison. Returns (passed, failures)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
         data, result_dir], cwd=ROOT, capture_output=True, text=True,
        timeout=25)
    passed, failures = [], []
    for line in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|TIMEOUT) (\S+?):? (.*)", line)
        if m:
            (passed if m.group(1) == "PASS" else failures).append(
                m.group(2) if m.group(1) == "PASS"
                else f"{m.group(2)}: {m.group(1)} {m.group(3)}")
    if proc.returncode not in (0, 1, 2) or (proc.returncode and not failures):
        failures.append(f"{result_dir}: oracle_check exit {proc.returncode}: "
                        f"{proc.stderr.strip()[-300:]}")
    return passed, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4,
                    help="local[C] executor threads (default 4)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources (src/main/scala/graft) next to perfbench/")
    cfg = bench_config()
    cp = build(stamp(source_files()))
    data = data_dir(cp)

    work = run_dir(a.workload, a.seed, a.trace, a.cores)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    rc = run_logged(java_cmd(cp, "perfbench.Runner", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(a.cores), "--data", data, "--work", work,
        "--result", result], os.path.join(work, "tmp")), log, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        die(f"runner failed (exit {rc}); last lines of {log}:\n{tail(log)}")
    with open(result) as f:
        r = json.load(f)

    failures = list(r["failures"])
    checked = 0
    for d in r["oracle_dirs"]:
        passed, bad = oracle_check(data, d)
        checked += len(passed) + len(bad)
        failures += bad
    attempted = r["attempted"]
    failed_ops = {f.split(":")[0] for f in failures}
    failed = min(attempted, len(failed_ops)) if failures else 0
    r["info"]["failed_ratio"] = failed / attempted

    declared = cfg["per_layer"] if a.trace else cfg["end_to_end"]
    values = r["layers"] if a.trace else r["metrics"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  "
          f"trace {a.trace}  cores {a.cores}")
    for k, m in metrics.items():
        print(f"  {k:28s} {m['value']:>16.6g} {m['unit']}")
    undeclared = {k: v for k, v in r["metrics"].items() if k not in metrics}
    for k, v in sorted({**r["info"], **undeclared}.items()):
        print(f"  {k:28s} {v:>16.6g} {INFO_UNITS.get(k, '')}  (info)")
    print(f"  oracle checks               {checked:>16d} results compared")
    for f in failures:
        print(f"  FAILED {f}")
    correct = not failures and all(
        isinstance(m["value"], (int, float)) and m["value"] == m["value"]
        for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
