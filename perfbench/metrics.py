"""Arithmetic that turns the harness's raw records into metrics."""
import math
import statistics

MIB = 1 << 20


def percentile(values, q, cells=256):
    """Harrell-Davis estimate of the q-th percentile (0 < q < 100): the mean
    of the order statistics weighted by a Beta((n+1)p, (n+1)(1-p)) density.
    On the 15-30 latencies of a run it is steadier than interpolating
    between the two order statistics nearest the percentile (quartile spread
    over ten runs: worst case 0.17 against 0.23). The density is integrated
    with the midpoint rule, `cells` cells per order statistic."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    xs = sorted(values)
    n = len(xs)
    p = q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    dens = [math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
            for x in ((j + 0.5) / (n * cells) for j in range(n * cells))]
    weights = [sum(dens[i * cells:(i + 1) * cells]) for i in range(n)]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def failed_frac(failed, attempted):
    """Share of attempted executions that failed."""
    if attempted < 1:
        raise ValueError("no executions attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def slot_util(task_ms, wall_ms, cores):
    """Busy share of the task slots: summed task time over wall time times slots."""
    if wall_ms <= 0 or cores < 1:
        raise ValueError("slot utilisation needs positive wall time and cores")
    return task_ms / (wall_ms * cores)


def latency_ms(rec):
    """Query function call through full materialisation of one execution."""
    return rec["build_ms"] + rec["plan_ms"] + rec["exec_ms"]


def pass_seconds(execs):
    """A pass's time: its successful executions plus their checkpoint release.
    A failed execution adds no time."""
    return sum(latency_ms(r) + r["release_ms"] for r in execs if r["ok"]) / 1e3


def end_to_end(setups, cold, warm_passes, vmhwm_kb, failed, attempted):
    """The untraced run's metrics. `warm_passes` is a list of execution lists."""
    lat = [latency_ms(r) for p in warm_passes for r in p if r["ok"]]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "first_pass_s": (pass_seconds(cold), "s"),
        "pass_s": (statistics.median(pass_seconds(p) for p in warm_passes), "s"),
        "query_p50_ms": (percentile(lat, 50), "ms"),
        "query_p90_ms": (percentile(lat, 90), "ms"),
        "peak_rss_mb": (vmhwm_kb / 1024.0, "MiB"),
        "ok_frac": (1.0 - failed_frac(failed, attempted), "fraction"),
    }


MODULE_METRICS = [("build_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                  ("jobs", "count"), ("tasks", "count"), ("cpu_ms", "ms"),
                  ("shuffle_mb", "MiB"), ("max_task_ms", "ms")]

CROSS_METRICS = [("Checkpoints.release_ms", "ms"), ("Tables.input_mb", "MiB"),
                 ("GraftExtensions.codegen_fallback", "count"),
                 ("spark.stages", "count"), ("spark.gc_ms", "ms"),
                 ("spark.spill_mb", "MiB"), ("spark.task_retries", "count"),
                 ("spark.slot_util", "ratio"), ("trace.overhead", "ratio")]


def per_layer(modules, module_of, traced, untraced, tasks, cores):
    """The traced run's metrics: per warm traced pass, summed per module and
    over the cross-cutting layers, then the median over those passes.

    `traced`/`untraced` map pass number to that pass's executions; `tasks`
    maps (query, pass) to the listener's task totals."""
    per_pass = []
    for p, execs in sorted(traced.items()):
        m = {f"{mod}.{k}": 0.0 for mod in modules for k, _ in MODULE_METRICS}
        m.update((k, 0.0) for k, _ in CROSS_METRICS)
        exec_run = exec_wall = 0.0
        for r in execs:
            mod = module_of(r["query"])
            for k in ("build_ms", "plan_ms", "exec_ms"):
                m[f"{mod}.{k}"] += r[k]
            m["Checkpoints.release_ms"] += r["release_ms"]
            m["GraftExtensions.codegen_fallback"] += max(r["codegen_fallback"], 0)
            exec_wall += r["exec_ms"]
            t = tasks.get((r["query"], p))
            if t is None:
                continue
            for k in ("jobs", "tasks", "cpu_ms"):
                m[f"{mod}.{k}"] += t[k]
            m[f"{mod}.shuffle_mb"] += t["shuffle_bytes"] / MIB
            m[f"{mod}.max_task_ms"] = max(m[f"{mod}.max_task_ms"], t["max_task_ms"])
            m["Tables.input_mb"] += t["input_bytes"] / MIB
            m["spark.stages"] += t["stages"]
            m["spark.gc_ms"] += t["gc_ms"]
            m["spark.spill_mb"] += t["spill_bytes"] / MIB
            m["spark.task_retries"] += t["retries"]
            exec_run += t["exec_run_ms"]
        m["spark.slot_util"] = slot_util(exec_run, exec_wall, cores)
        per_pass.append(m)
    units = {f"{mod}.{k}": u for mod in modules for k, u in MODULE_METRICS}
    units.update(CROSS_METRICS)
    out = {k: (statistics.median(p[k] for p in per_pass), units[k]) for k in per_pass[0]}
    overhead = (statistics.median(pass_seconds(e) for e in traced.values()) /
                statistics.median(pass_seconds(e) for e in untraced.values()))
    out["trace.overhead"] = (overhead, "ratio")
    return out
