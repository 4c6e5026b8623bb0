#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check
outputs against the DuckDB oracle, print the metrics.

    python3 perfbench/run.py --workload headline_jobs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program is compiled from
src/main/scala against the Spark jars of the installed Spark
($SPARK_HOME/jars, else the jar directory build.sbt names); build outputs, inputs, logs
and results go to .bench_build/ in the checkout and are reused while
their sources are unchanged. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. A run whose
outputs disagree with the oracle prints correct=false and exits 1.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_data  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CHECK_ORACLE = os.path.join(ROOT, "tools", "check_oracle.py")
SF = 0.01          # input scale: lineitem = 60k rows
DATA_SEED = 42     # the tables are fixed; --seed sets the query order
SETUPS = 6         # set-ups per run; setup_s is their median; they warm the JIT
TASK_THREADS = 2   # local[N]: leaves cores to the driver, JIT and GC threads
MIN_PASSES = 3     # timed passes at least, so pass_s is a median of three
MAX_PASSES = 200   # query orders written for the harness (warm-ups + timed)
HEAP = "3g"
DEADLINE_S = 170   # a run must end within 180 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _files(d, pattern="**/*"):
    return [p for p in glob.glob(os.path.join(d, pattern), recursive=True)
            if os.path.isfile(p)]


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler in {jars}")
    return jars


def _scalac(jars, classpath, out, sources):
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    os.makedirs(out)
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath, "-d", out, "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile of {out} failed:\n{r.stdout[-4000:]}", 1)


def build(jars):
    """Compile the program and the harness into .bench_build/classes."""
    src = os.path.join(ROOT, "src", "main")
    program = _files(os.path.join(src, "scala"), "**/*.scala")
    if not program:
        fail(f"no program sources under {src}/scala: run from a checkout root")
    resources = _files(os.path.join(src, "resources"))
    harness = _files(os.path.join(BENCH, "harness"), "**/*.scala")
    key = _digest(program + resources + harness,
                  "\n".join(sorted(os.listdir(jars))))
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    t = time.time()
    _scalac(jars, os.path.join(jars, "*"), os.path.join(classes, "program"), program)
    for r in resources:
        dst = os.path.join(classes, "program",
                           os.path.relpath(r, os.path.join(src, "resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    _scalac(jars, os.pathsep.join([os.path.join(classes, "program"),
                                   os.path.join(jars, "*")]),
            os.path.join(classes, "harness"), harness)
    with open(stamp, "w") as f:
        f.write(key)
    print(f"perfbench: built in {time.time() - t:.1f}s", file=sys.stderr)
    return classes


def inputs():
    """The generated input tables, made once per generator version."""
    d = os.path.join(BUILD, "data", f"sf{SF}")
    key = _digest([os.path.join(BENCH, "gen_data.py")], f"{SF}:{DATA_SEED}")
    stamp = d + ".stamp"
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, SF, DATA_SEED)
        with open(stamp, "w") as f:
            f.write(key)
    return d


def oracle_check(names, oracle_sql, check_dir, data):
    """{query: "" if the project's oracle gate passes it, else why not}.

    Runs tools/check_oracle.py unchanged on the correctness pass's results
    (one parquet directory per query in check_dir, plus oracle_sql.json)
    and reads each query's verdict from its PASS or FAIL line."""
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({n: oracle_sql[n] for n in names}, f)
    r = subprocess.run([sys.executable, CHECK_ORACLE, check_dir, data],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    verdict = {n: f"no verdict from the oracle check: {r.stdout[-300:]!r}"
               for n in names}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) ([^\s:]+)", line)
        if m and m.group(2) in verdict:
            verdict[m.group(2)] = ("" if m.group(1) == "PASS"
                                   else line[m.end():].lstrip(": ") or line)
    return verdict


def tally(res, queries, verdict):
    """(attempted, failures) of a run: every query of every set-up (the
    first is the oracle-checked pass) and every timed execution; each
    failure a line saying which execution failed and why."""
    attempted = len(res["samples"]) + len(res["setup_s"]) * len(queries)
    failures = [f"{q}: {why}" for q, why in verdict.items() if why]
    failures += [f"{e['query']} (set-up {e['setup']}): {e['error']}"
                 for e in res["setup_errors"]]
    failures += [f"{s['query']} (pass {s['pass']}): {s['error']}"
                 for s in res["samples"] if s["error"]]
    return attempted, failures


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(jars, classes, data, queries, args, threads, deadline):
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tmp = os.path.join(BUILD, "tmp", f"{tag}-{os.getpid()}")
    check_dir = os.path.join(BUILD, "check", args.workload)
    out_json = os.path.join(tmp, "harness.json")
    orders = os.path.join(tmp, "orders.txt")
    log = os.path.join(BUILD, "logs", tag + ".log")
    for d in (tmp, os.path.dirname(log)):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(check_dir, ignore_errors=True)
    with open(orders, "w") as f:
        f.writelines(",".join(map(str, o)) + "\n"
                     for o in pass_orders(len(queries), args.seed, MAX_PASSES))
    cmd = (["java"] + [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-cp", os.pathsep.join([os.path.join(classes, "harness"),
                                      os.path.join(classes, "program"),
                                      os.path.join(jars, "*")]),
              "perfbench.Harness", data, ",".join(queries), orders,
              str(args.seconds), str(args.trace), str(MIN_PASSES), str(SETUPS),
              str(threads), check_dir, out_json])
    # Spark's scratch stays in the run's directory even where the
    # environment names other local dirs
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=tmp, env=env)
            try:
                ok = (proc.wait(timeout=max(10.0, deadline - time.time())) == 0
                      and os.path.exists(out_json))
            except subprocess.TimeoutExpired:
                ok = False
            finally:
                # also on SIGTERM (raised as SystemExit): never leave the JVM behind
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if not ok:
            with open(log) as f:
                fail(f"harness failed, log {log}:\n{f.read()[-3000:]}", 1)
        with open(out_json) as f:
            return json.load(f), check_dir
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        run_all(args)
    queries = WORKLOADS[args.workload]
    if not os.path.exists(CHECK_ORACLE):
        fail(f"no {os.path.relpath(CHECK_ORACLE, ROOT)}: run from a checkout root")
    cores = len(os.sched_getaffinity(0))
    # fewer task threads than cores: with one task per core every stage
    # waits on the most contended core, and the driver, JIT and GC threads
    # compete with the tasks (README: "Steadiness")
    threads = min(TASK_THREADS, cores)

    jars = spark_jars()
    classes = build(jars)
    data = inputs()
    # the first run in a checkout builds; the run itself gets its own budget
    res, check_dir = run_harness(jars, classes, data, queries, args, threads,
                                 time.time() + DEADLINE_S)

    verdict = dict(res["check"])
    ran = [q for q in queries if not verdict[q]]
    if ran:
        verdict.update(oracle_check(ran, res["oracle_sql"], check_dir, data))
    attempted, failures = tally(res, queries, verdict)
    failed = len(failures)
    for line in failures[:10]:
        print(f"perfbench: FAIL {line}", file=sys.stderr)

    correct = not failures
    latency = {}
    try:
        if args.trace:
            values = stats.trace_metrics(res)
            values["run.failed_frac"] = failed / attempted
            units = TRACE_UNITS
        else:
            values, latency = stats.end_to_end(res)
            units = E2E_UNITS
    except (ValueError, ZeroDivisionError) as e:
        if correct:
            raise
        # failures can leave too few samples for the statistics
        print(f"perfbench: no metrics: {e}", file=sys.stderr)
        values, units = {}, {}
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "task_threads": threads, "sf": SF,
        "sf_dir": os.path.relpath(data, ROOT),
        "git_commit": git_commit(), "seconds": args.seconds,
        "queries": queries, "latency": latency,
        "pass_walls_s": [p["wall_s"] for p in res["passes"]],
        "heap_mb": [p["heap_mb"] for p in res["passes"]],
        "setup_runs_s": res["setup_s"],
        "failed_frac": failed / attempted, "failures": failures,
        "spark": res["run"], "metrics": metrics,
        "per_query_s": {q: sorted(v) for q, v in sorted(stats.latencies(res).items())},
        "elapsed_s": time.time() - t_start,
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(results, tag + ".spans.json"), "w") as f:
            json.dump(stats.build_spans(res), f)
    print(f"perfbench: {args.workload} seed {args.seed}: {len(res['passes'])} passes, "
          f"{latency.get('latency_samples')} latency samples, "
          f"{failed}/{attempted} failed, "
          f"{time.time() - t_start:.1f}s", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


def run_all(args):
    """Every workload in turn, one process each; the last line merges them,
    each metric prefixed with its workload."""
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w in WORKLOADS:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if not lines or not lines[-1].startswith("{"):
            fail(f"workload {w} printed no result", 1)
        out = json.loads(lines[-1])
        print(w, lines[-1])
        correct &= out["correct"] and r.returncode == 0
        attempted += out["attempted"]
        failed += out["failed"]
        metrics.update({f"{w}.{k}": v for k, v in out["metrics"].items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "query_s.geomean": "s",
    "retained_heap_mb": "MB",
}


def _trace_unit(name):
    if name.endswith("_s") or name == "exec.s" or name.startswith("self_s."):
        return "s"
    if name.endswith("_bytes") or name == "io.bytes_per_written_file":
        return "bytes"
    if name in ("task.skew", "trace.overhead_frac", "run.failed_frac"):
        return "ratio"
    return "count"


TRACE_UNITS = {k: _trace_unit(k) for k in stats.TRACE_METRICS}

if __name__ == "__main__":
    main()
