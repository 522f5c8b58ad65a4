#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload snapshot_ingest --seed 1 --seconds 10 --trace 0

Builds the program from source (build.py), generates the workload's inputs
and expectations from the seed (gen.py), then runs the Scala runner
(src/perfbench/Bench.scala) in one JVM. The last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics`; with `--trace 0`
the metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
The line before it carries details: tail percentiles and sample counts,
error rate, load flags and hygiene counts. See README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Workloads whose ingest cycles happen in set-up (building the store they
# read); the others ingest inside the measured window.
INGEST_IN_SETUP = {"warehouse_reads"}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cycle_s_p50": "s",
    "ingest_rows_per_s": "rows/s",
    "query_s_geomean": "s",
    "queries_per_s": "1/s",
    "write_bytes_per_input_byte": "ratio",
    "store_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
}

# A fixed heap and young generation: with adaptive sizing, G1 grows the
# heap or eden in some runs and not in others, which makes peak RSS
# bimodal.
HEAP = ["-Xms1536m", "-Xmx1536m", "-Xmn256m"]
# MALLOC_ARENA_MAX (set for the JVM below) caps glibc's per-thread malloc
# arenas, whose touched pages otherwise vary from run to run.
SETUP_REPS = 3
# Untimed units that warm the JVM after the first set-up.
WARM_UNITS = 1
# Nominal seconds of one measured unit. A run measures round(--seconds /
# UNIT_S) units: a count fixed by --seconds alone, not by the program's
# speed, so sample counts and the op mix are the same for every commit.
UNIT_S = 10
JVM_TIMEOUT_S = 170
# Reference time of the JVM's host-speed probe (a fixed CPU-bound loop, best
# of five, timed before and after every op): about what it reads on an idle
# 4-CPU host. Every time metric is scaled to this host speed; see README.md.
PROBE_REF_NS = 250_000


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("ratio") or name.endswith("_error"):
        return "ratio"
    return "count"


def tail(values):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples). With fewer than 21 samples that
    percentile is at or below the median, so the median stands in: the
    tail never reads below the median, and it does not jump when a run
    completes one unit more or less."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0, None, 0
    k = n - 11
    if k < (n - 1) / 2:
        return statistics.median(v), 50.0, n
    return v[k], 100.0 * k / (n - 1), n


def median(values):
    return statistics.median(values) if values else 0.0


def kind_geomean(ops):
    """Geometric mean, over op names, of each name's median time. The plain
    median of a mix of op kinds sits on whichever kind lands in the middle
    and jumps between kinds; this uses every kind."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["t"])
    return statistics.geometric_mean([median(v) for v in by_name.values()]) if by_name else 0.0


def scaled(wall_s, probe_ns):
    """Wall time scaled to the reference host speed, by the mean of the
    probe times taken right before and right after it."""
    return wall_s * PROBE_REF_NS * len(probe_ns) / sum(probe_ns)


def unit_rate(ops, count):
    """Median, over units, of a unit's summed `count` per second of its
    summed op time. Unlike a rate over the whole run, one slow unit does
    not move it."""
    by_unit = {}
    for o in ops:
        by_unit.setdefault((o["rep"], o["unit"]), []).append(o)
    return median([sum(count(o) for o in u) / sum(o["t"] for o in u)
                   for u in by_unit.values()])


def metrics_from(workload, raw):
    ops = raw["ops"]
    ok = [dict(o, t=scaled(o["wall_s"], o["probe_ns"])) for o in ops if o["ok"]]
    if workload in INGEST_IN_SETUP:
        cycles = [o for o in ok if o["kind"] == "cycle" and o["phase"] == "setup" and o["rep"] >= 1]
        units = [u for u in raw["units"] if u["phase"] == "setup" and u["rep"] >= 1]
    else:
        cycles = [o for o in ok if o["kind"] == "cycle" and o["phase"] == "window"]
        units = [u for u in raw["units"] if u["phase"] == "window"]
    queries = [o for o in ok if o["kind"] == "query" and o["phase"] == "window"]
    cyc_t = [o["t"] for o in cycles]
    q_t = [o["t"] for o in queries]
    ct, ct_pct, ct_n = tail(cyc_t)
    qt, qt_pct, qt_n = tail(q_t)
    written = sum(o["bytes_written"] for o in cycles)
    read = sum(o["input_bytes"] for o in cycles)
    last = units[-1] if units else None
    m = {
        "setup_s": median([scaled(t, p) for t, p in
                           zip(raw["setup_s"][1:], raw["setup_probe_ns"][1:])]),
        "cycle_s_p50": median(cyc_t),
        "ingest_rows_per_s": unit_rate(cycles, lambda o: o["rows_in"]),
        "query_s_geomean": kind_geomean(queries),
        "queries_per_s": unit_rate(queries, lambda o: 1),
        "write_bytes_per_input_byte": written / read if read else 0.0,
        "store_bytes_per_row": last["store_bytes"] / last["rows"] if last else 0.0,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    attempted = len(ops)
    failed = attempted - len(ok)
    probes = [p for o in ok for p in o["probe_ns"]]
    detail = {
        "host_speed": PROBE_REF_NS / median(probes) if probes else None,
        "unscaled": {
            "setup_s": median(raw["setup_s"][1:]),
            "cycle_s_p50": median([o["wall_s"] for o in cycles]),
            "query_s_geomean": statistics.geometric_mean(
                [median([o["wall_s"] for o in queries if o["name"] == n])
                 for n in {o["name"] for o in queries}]) if queries else 0.0,
        },
        "query_s_p50": median(q_t),
        "cycle_s_tail": {"value": ct, "percentile": ct_pct, "samples": ct_n},
        "query_s_tail": {"value": qt, "percentile": qt_pct, "samples": qt_n},
        "error_rate": failed / attempted if attempted else 1.0,
        "errors": [f"{o['name']}: {o['error']}" for o in ops if not o["ok"]][:10],
        "setup_reps_s": raw["setup_s"],
        "units": raw["units_run"],
        "window_s": raw["window_s"],
        "load_limit": raw["load_limit"],
        "load_flagged_ops": sum(1 for o in ops if o["load_flag"]),
        "load_max": max((max(o["load_before"], o["load_after"]) for o in ops), default=0.0),
        "store.leaked_dirs": raw["leaked_dirs"],
        "functions.pins_leaked": raw["pins_leaked"],
    }
    return m, attempted, failed, detail


def layer_metrics(raw):
    ops = raw["ops"]
    layer = dict(raw["layer"])
    # The traced unit is compared with the untraced unit right before it.
    last = max((o["unit"] for o in ops if o["phase"] == "window"), default=None)
    by_name = {}
    for o in ops:
        if o["ok"] and (o["phase"] == "traced" or (o["phase"] == "window" and o["unit"] == last)):
            by_name.setdefault(o["name"], {}).setdefault(o["phase"], []).append(
                scaled(o["wall_s"], o["probe_ns"]))
    both = [v for v in by_name.values() if "window" in v and "traced" in v]
    untraced = sum(median(v["window"]) for v in both)
    layer["bench.trace_overhead_ratio"] = (
        sum(median(v["traced"]) for v in both) / untraced if untraced else 0.0)
    layer["bench.load_flagged_ops"] = sum(1 for o in ops if o["load_flag"])
    layer["store.leaked_dirs"] = raw["leaked_dirs"]
    layer["functions.pins_leaked"] = raw["pins_leaked"]
    return layer


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="",
                    help="test hook: throw:<op> makes that op throw, wrong:<op> plants a "
                         "wrong expectation for it")
    a = ap.parse_args()

    try:
        bench_jar, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"run.py: {e}")

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(build.BUILD, "work", f"{tag}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    runs = os.path.join(build.BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{tag}.json")
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs)
    gen_s = time.time() - t0
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    units = max(1, round(a.seconds / UNIT_S))
    cmd = (["java"] + HEAP + [f"-XX:SharedArchiveFile={build.class_archive(bench_jar)}",
            "-Xlog:disable", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
           build.jvm_opens() +
           ["-cp", os.pathsep.join([bench_jar] + jars), "perfbench.Main",
            "--workload", a.workload, "--units", str(units), "--warm-units", str(WARM_UNITS), "--trace", str(a.trace),
            "--inputs", inputs, "--work", work, "--out", out, "--cores", str(cores),
            "--setup-reps", str(SETUP_REPS)] + (["--inject", a.inject] if a.inject else []))
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, cwd=work, timeout=JVM_TIMEOUT_S,
                           env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    except subprocess.TimeoutExpired:
        sys.exit(f"run.py: benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.exit(f"run.py: benchmark JVM exited with code {r.returncode}")
    with open(out) as f:
        raw = json.load(f)

    e2e, attempted, failed, detail = metrics_from(a.workload, raw)
    detail["gen_s"] = gen_s
    if a.trace:
        values = layer_metrics(raw)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in values.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
