#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload <name> --smoke      # sf0.001, seconds

Builds the program and the harness from source (sbt, offline) into
`.bench_build/`, generates the workload's tables there (`gen_data.py`), runs
the harness JVM (`perfbench.Harness`), checks every output, and prints one
JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` the per-layer ones. The full record of the run (machine
context, every operation, every check, the traced spans) is written to
`.bench_build/records/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# Two JIT compiler and two GC threads beside the four executor threads, so
# that the JVM does not run more busy threads than the machine has cores.
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark installation's jars, which the program builds against:
    $SPARK_HOME/jars, else the jars beside `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def log_path(name):
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    return os.path.join(BUILD, "logs", name)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles ../src/main/scala plus the harness, unless unchanged since the
    last build; returns whether it compiled."""
    sources = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = tree_digest(sources)
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    with open(log_path("build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", *opts, "-J-Xmx2g", "compile"], cwd=HERE,
                           env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail(f"build failed, see {log_path('build.log')}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def data_dir(sf):
    """The generated tables for one scale factor (made once per checkout)."""
    d = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = tree_digest([os.path.join(HERE, "gen_data.py")])
    stamp_file = os.path.join(d, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), d, str(sf)],
                       check=True, timeout=300)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return d


def percentile(xs, p):
    """Linear interpolation between closest ranks."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs):
    """The highest percentile with at least 10 samples beyond it; the median
    when the sample is too small to support a higher one."""
    p = max(50.0, math.floor(1000.0 * (1 - 10.0 / len(xs))) / 10.0)
    return p, percentile(xs, p)


def oracle_check(sf_dir, dump_dir):
    """tools/check.py (the program's own DuckDB twin compare) on the dumped
    warm-up results; returns {query: (passed, detail)}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        sf_dir, dump_dir], capture_output=True, text=True, timeout=120)
    with open(log_path("check.log"), "w") as fh:
        fh.write(r.stdout + r.stderr)
    res = {}
    for line in r.stdout.splitlines():
        if line.startswith("PASS "):
            res[line.split()[1]] = (True, "")
        elif line.startswith("FAIL "):
            name, _, detail = line[5:].partition(": ")
            res[name] = (False, detail)
    return res


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def run_harness(props, timeout_s):
    """Runs the harness JVM on a properties file; returns its JSON record."""
    props_file = os.path.join(props["outDir"], "run.properties")
    with open(props_file, "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={v}\n".replace("\\", "\\\\"))
    cmd = ["java", f"-Xms{props['heap']}", f"-Xmx{props['heap']}", *JVM_THREADS,
           f"-Djava.io.tmpdir={props['scratchDir']}", *ADD_OPENS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Harness", props_file]
    with open(log_path(f"harness-{props['workload']}.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=props["scratchDir"])
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {timeout_s:.0f} s", 1)
    if rc != 0:
        fail(f"harness exited with {rc}, see {out.name}", 1)
    with open(os.path.join(props["outDir"], "harness.json")) as fh:
        return json.load(fh)


def output_checks(h, w, sf_dir, run_dir):
    """{check: (passed, detail)}: the harness's own (stream sinks against
    their batch twins) plus, for batch workloads, the DuckDB twin compare."""
    checks = {k: (v["status"] == "pass", v.get("detail", "")) for k, v in h["checks"].items()}
    if "queries" in w:
        checks.update(oracle_check(sf_dir, os.path.join(run_dir, "verify")))
        for q in w["queries"]:
            checks.setdefault(q, (False, "no oracle compare result"))
    return checks


def end_to_end(h, ops):
    untraced = [p for p in h["passes"] if not p["traced"]]
    lat = [o["ms"] for o in ops if not o["traced"]]
    tail_p, tail_v = tail(lat)
    rows_per_s = [sum(o["rows"] for o in ops if o["pass"] == p["pass"]) / p["wall_s"]
                  for p in untraced]
    metrics = {
        "setup_s": (h["setup"]["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in untraced), "s"),
        "latency_p50_ms": (percentile(lat, 50.0), "ms"),
        "latency_tail_ms": (tail_v, "ms"),
        "rows_per_s": (statistics.median(rows_per_s), "rows/s"),
        "live_heap_peak_mb": (max(p["live_heap_mb"] for p in untraced), "MiB"),
    }
    return metrics, {"percentile": tail_p, "samples": len(lat)}


def per_layer(h, per_layer_spec):
    def wall(traced):
        return statistics.median(p["wall_s"] for p in h["passes"] if p["traced"] == traced)
    metrics = {}
    for m in per_layer_spec:
        if m["name"] == "trace.overhead_frac":
            v = wall(True) / wall(False) - 1.0
        else:
            v = statistics.median(layer[m["name"]] for layer in h["layers"])
        metrics[m["name"]] = (v, m["unit"])
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sf0.001 run, for the benchmark's own test")
    a = ap.parse_args()
    started = time.time()

    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "check.py")):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a checkout of the program")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    spec = load_json(os.path.join(HERE, "workloads.json"))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; one of {sorted(spec['workloads'])}")
    w = dict(spec["workloads"][a.workload])
    if a.smoke:
        w.update(w.get("smoke", {}))
    load_before = os.getloadavg()
    built = build()
    sf_dir = data_dir(w["sf"])

    passes = max(2 if a.trace else 1, round(a.seconds / w["nominal_pass_s"]))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    scratch = os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    props = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "passes": passes,
        "cores": spec["cores"], "heap": spec["heap"], "dataDir": sf_dir,
        "outDir": run_dir, "scratchDir": scratch, "tables": ",".join(w["tables"]),
    }
    if "queries" in w:
        # the seed permutes the query order within the pass
        order = list(w["queries"])
        random.Random(a.seed).shuffle(order)
        props["queries"] = ",".join(order)
    props.update({k: w[k] for k in ("rows", "rowsPerBatch", "warmupRows", "warmupPasses")
                  if k in w})
    rec_path = os.path.join(BUILD, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(rec_path), exist_ok=True)
    try:
        # the first run of a checkout may spend most of its time building
        limit = BUILD_LIMIT_S if built else RUN_LIMIT_S
        h = run_harness(props, limit - (time.time() - started))
        checks = output_checks(h, w, sf_dir, run_dir)
        if os.path.exists(os.path.join(run_dir, "spans.json")):
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        rec_path.replace(".json", ".spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = h["ops"]
    bad = {k.split("#")[0] for k, (ok, _) in checks.items() if not ok}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    attempted = len(ops)
    if a.trace:
        bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        metrics, tail_info = per_layer(h, bench["per_layer"]), {}
    else:
        metrics, tail_info = end_to_end(h, ops)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "smoke": a.smoke,
        "seconds": a.seconds, "passes": passes, "scale_factor": w["sf"],
        "machine": {"nproc": os.cpu_count(), "cores_used": h["cores_used"],
                    "jvm_available_processors": h["available_processors"],
                    "load_before": load_before, "load_after": os.getloadavg(),
                    "java_version": h["java_version"], "spark_version": h["spark_version"],
                    "git_commit": git_commit()},
        "error_rate": failed / attempted if attempted else 1.0,
        "latency_tail": tail_info, "setup": h["setup"], "passes_detail": h["passes"],
        "checks": {k: {"pass": ok, "detail": d} for k, (ok, d) in sorted(checks.items())},
        "metrics": metrics, "ops": ops,
    }
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)

    for k, (ok, d) in sorted(checks.items()):
        if not ok:
            print(f"perfbench: check failed: {k}: {d}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} passes={passes} "
          f"error_rate={record['error_rate']:.4f} record={os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": failed == 0 and all(ok for ok, _ in checks.values()),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
