#!/usr/bin/env python3
"""Benchmark of the query registry (`graft.SparkEntry.queries`).

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It compiles `src/main/scala` and the harness in
`perfbench/scala` into `.bench_build/perfbench`, then runs one JVM at
local[N] (N = usable cores, shuffle partitions = N, the Tier-1 heap rule) on
the fixtures in `perfbench/fixtures`. One client runs the workload's timed
queries closed-loop: a cold pass, then warm passes for S seconds (at least
three). Every output is checked: the cold pass's rows against the DuckDB
oracle, every later execution's fingerprint against the cold pass's. The
last stdout line is one JSON result; `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. Exit status is 0 only when no
execution failed. See perfbench/NOTES.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle  # noqa: E402

SF = "sf0.01"
SETUPS = 9
MIN_WARM = 3
RUN_LIMIT_S = 175      # a run must end within 180 s ...
BUILD_RUN_LIMIT_S = 880  # ... or 900 s when it compiles first

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark distribution found: set SPARK_HOME")
    return jars


def heap_gib():
    """Tier-1 heap: half of physical memory, between 2 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/scala"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    """Compile the program and the harness once per source stamp."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{stamp}")
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, stamp, False
    for d in os.listdir(build_dir):  # outputs of older sources
        path = os.path.join(build_dir, d)
        if d.startswith(("classes-", "oracle-")):
            shutil.rmtree(path)
        elif d.startswith("registry-"):
            os.remove(path)
    os.makedirs(classes)
    log(f"compiling {len(files)} Scala files")
    t0 = time.time()
    proc = subprocess.run(
        [java_bin(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, *files],
        cwd=build_dir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    if proc.returncode != 0:
        log(proc.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(classes, ".ok"), "w").close()
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes, stamp, True


def jvm(classes, jars, work, args, timeout):
    """Run the harness; kill it and fail if it outlives `timeout`."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # The initial heap is half the maximum: left to grow from its default,
    # the heap reached its size at different times in each run and VmHWM
    # spread 2.3-4.2 GB over five runs of one workload.
    gib = heap_gib()
    cmd = [java_bin(), "-XX:-UsePerfData", *ADD_OPENS,
           f"-Xmx{gib}g", f"-Xms{gib // 2}g",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.PerfBench", *args]
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                env=dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local"))
        try:
            rc = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {timeout:.0f} s; log in {logfile}")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(logfile, errors="replace") as f:
            log("".join(f.readlines()[-40:]))
        fail(f"harness exited {rc}")


def registry(classes, jars, build_dir, stamp):
    path = os.path.join(build_dir, f"registry-{stamp}.txt")
    if not os.path.exists(path):
        work = os.path.join(build_dir, "work-list")
        os.makedirs(work, exist_ok=True)
        jvm(classes, jars, work, ["mode=list", f"out={path}.tmp"], 120)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return [l.strip() for l in f if l.strip()]


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def judge(execs, oracle, dump):
    """The failed executions, as (query, pass, reason)."""
    checked = {r["query"]: r["fp"] for r in execs if r["pass"] <= 0 and r["ok"]}
    verdict = {}
    for q in checked:
        try:
            verdict[q] = oracle.check(dump, q)
        except Exception as e:  # an unreadable dump or cache entry fails the check
            verdict[q] = f"check failed: {e}"
    failures = []
    for r in execs:
        q, p = r["query"], r["pass"]
        if not r["ok"]:
            failures.append((q, p, "threw: " + r["error"]))
        elif q not in checked:
            failures.append((q, p, "no checked output: the cold execution failed"))
        elif r["fp"] != checked[q]:
            failures.append((q, p, f"fingerprint {r['fp']} != checked {checked[q]}"))
        elif verdict[q] is not None:
            failures.append((q, p, "oracle: " + verdict[q][:300]))
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program source under src/main/scala: run from the repository root")
    sf_dir = os.path.join(HERE, "fixtures", SF)
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"fixtures missing: {sf_dir}")

    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes, stamp, built = build(root, build_dir, jars)
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
    try:
        parts = workloads.partition(registry(classes, jars, build_dir, stamp))
    except ValueError as e:
        fail(str(e))
    timed = workloads.TIMED[a.workload]
    sweep = workloads.sweep_slice(parts[a.workload], timed, a.seed)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(build_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    orders = os.path.join(work, "orders.txt")
    with open(orders, "w") as f:
        for order in workloads.pass_orders(timed, a.seed, 64):
            f.write(",".join(order) + "\n")
    oracle = Oracle(sf_dir, os.path.join(build_dir, f"oracle-{stamp}-{SF}"))
    records = os.path.join(work, "records.jsonl")
    dump = os.path.join(work, "dump")
    jvm(classes, jars, work, [
        "mode=run", f"sf={sf_dir}", f"cores={cores}", f"orders={orders}",
        f"out={records}", f"dump={dump}", f"seconds={a.seconds}",
        f"trace={a.trace}", f"setups={SETUPS}", f"minwarm={MIN_WARM}",
        "sweep=" + ",".join(sweep),
        "oracle=" + ",".join(oracle.missing(timed + sweep))],
        deadline - time.time() - 10)

    with open(records) as f:
        recs = [json.loads(l) for l in f]
    kind = lambda k: [r for r in recs if r["kind"] == k]  # noqa: E731
    oracle.fill({r["query"]: r["sql"] for r in kind("oracle")})
    execs = kind("exec")
    failures = judge(execs, oracle, dump)
    attempted = len(execs)

    passes = {}
    for r in execs:
        if r["pass"] >= 1:
            passes.setdefault(r["pass"], []).append(r)
    env = kind("env")[0]
    if failures:  # no timing of a failing run is reported
        result = {} if a.trace else {
            "ok_frac": (1 - metrics.failed_frac(len(failures), attempted), "fraction")}
    elif a.trace:
        traced = {p: e for p, e in passes.items() if e[0]["traced"]}
        untraced = {p: e for p, e in passes.items() if not e[0]["traced"]}
        later = {p: e for p, e in untraced.items() if p >= 2}
        tasks = {(t["query"], t["pass"]): t for t in kind("tasks")}
        result = metrics.per_layer(workloads.MODULES, workloads.module_of, traced,
                                   later or untraced, tasks, env["parallelism"])
    else:
        result = metrics.end_to_end(
            [r["s"] for r in kind("setup")], [r for r in execs if r["pass"] == 0],
            [passes[p] for p in sorted(passes)], kind("rss")[0]["vmhwm_kb"],
            len(failures), attempted)

    warm = sum(len(e) for e in passes.values())
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "traced": bool(a.trace), "nproc": os.cpu_count(), "cores": cores,
        "local": f"local[{env['parallelism']}]", "heap_gib": heap_gib(),
        "heap_mb": env["heap_mb"], "jdk": env["jdk"], "spark": env["spark"],
        "git_commit": git_commit(root), "source_sha256": stamp,
        "sf_dir": os.path.relpath(sf_dir, root), "timed_queries": len(timed),
        "warm_passes": len(passes), "warm_executions": warm,
        "sweep": sweep, "attempted": attempted,
        "failed": len(failures), "failed_frac": len(failures) / attempted,
    }
    log("provenance " + json.dumps(provenance))
    for q, p, why in failures:
        log(f"FAIL {q} pass={p}: {why}")
    for k, (v, unit) in result.items():
        log(f"{k} = {v:.6g} {unit}")
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    with open(os.path.join(build_dir, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"provenance": provenance, "metrics": result,
                   "failures": failures, "executions": execs}, f)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
