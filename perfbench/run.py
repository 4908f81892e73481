#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (its own sbt build in this directory, compiled against
the repo's main sources) on first use, generates the workload's inputs from
the seed, runs one measured window in a fresh JVM, checks the outputs, prints
every metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Exits non-zero when a
correctness check fails or the program under test cannot be built or run.
"""
import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np

import gen
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
# Leaves room for input generation and checks inside a 180 s run.
JVM_TIMEOUT_S = 150

# Workload sizing. Each workload keeps the shape its notes describe; the
# sizes fit the run length and the 4-core local[4] session.
WORKLOADS = {
    "relay_fanout": dict(objects=4, secondary=1, base_rows=100, commit_rows=10,
                         period_s=0.25, warm_cycles=1),
    "relay_initial_sync": dict(rows=200_000, batch_rows=1000, warm_passes=1),
    # Every 16th registered name in sorted order when the benchmark was
    # defined: names carry their family as a prefix, so the slice keeps each
    # family's share. Fixed by name so that adding a query elsewhere leaves
    # the workload unchanged.
    "registry": dict(sf=0.01, queries=[
        "a10_overview_totals", "ann_integrity", "ann_sq8_quantize", "dedup_minhash_est",
        "ev_funnel", "f11_prefix_split", "j3_route_fanout", "llm_cls_train",
        "llm_fingerprint", "llm_mixed_lang", "llm_source_quality_matrix", "mm_audio_energy",
        "p1_version_filter", "s2_clob_reassembly", "w1_pagination_keyset"]),
}

# Query-name prefix -> family. Everything else is the core family.
FAMILIES = [("llm_", "llm"), ("dedup_", "dedup_ann"), ("ann_", "dedup_ann"), ("ev_", "ev")]
FAMILY_NAMES = ["core", "dedup_ann", "ev", "llm"]
REG_PHASES = ["build", "analyze", "optimize", "plan", "execute"]

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "latency_p50_s": "s", "latency_tail_s": "s"}
# The tail percentile each workload reports as latency_tail_s: the highest
# one its fixed sample design supports (metrics.highest_supported_percentile).
TAIL = {"relay_fanout": 95, "relay_initial_sync": 95, "registry": 75}
PER_LAYER = (
    ["streaming.cycle_s", "streaming.driver_gap_s", "streaming.jobs_per_cycle",
     "state.read_s", "state.watermark_commit_s", "state.commits_per_cycle",
     "state.dlq_append_s", "state.dlq_appends_per_cycle", "state.dlq_rows",
     "state.replay_s", "state.replayed",
     "ops.horizon_probe_s", "ops.incremental_read_s", "ops.batch_number_s",
     "sinks.export_s", "sinks.export_task_s", "sinks.failure_probe_s", "sinks.envelopes",
     "sinks.http_requests", "sinks.http_bytes", "sinks.files", "sinks.file_bytes",
     "sinks.failures", M.UNATTRIBUTED]
    + [f"registry.{p}_s" for p in REG_PHASES]
    + [f"registry.{f}_s" for f in FAMILY_NAMES]
    + [f"registry.{f}.{p}_s" for f in FAMILY_NAMES for p in REG_PHASES]
    + ["runtime.small_tier_queries",
       "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
       "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.janino_compiles", "spark.janino_s",
       "jvm.gc_s", "jvm.heap_peak_mb", "gen.late_p95_s", "trace_overhead"])


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MiB"
    if name == "trace_overhead":
        return "ratio"
    return "count"


def family(query):
    return next((f for prefix, f in FAMILIES if query.startswith(prefix)), "core")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; later runs reuse the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found next to the benchmark: nothing to measure")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("benchmark build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, work, args):
    out = os.path.join(work, "raw.json")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *JAVA_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main", f"out={out}"]
           + [f"{k}={v}" for k, v in args.items()])
    # Spark's scratch space stays inside the run directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("benchmark JVM timed out")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM failed (exit {code})")
    with open(out) as f:
        return json.load(f)


# ---- per-workload metrics ----------------------------------------------------

def window_phases(jobs, intervals):
    """Sum job wall time by phase over the jobs that start inside the given
    [start, end] intervals; also counts and task totals."""
    by_phase, counts = {}, {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ns": 0,
                            "shuffle_write": 0, "spill": 0, "export_task_ms": 0,
                            "dlq_appends": 0, "job_s": 0.0}
    for j in jobs:
        if not any(s <= j["start_ms"] <= e for s, e in intervals) or j["end_ms"] < 0:
            continue
        phase = M.attribute(j["call_site"])
        wall = (j["end_ms"] - j["start_ms"]) / 1000.0
        by_phase[phase] = by_phase.get(phase, 0.0) + wall
        counts["jobs"] += 1
        counts["job_s"] += wall
        for k in ("stages", "tasks", "cpu_ns", "shuffle_write", "spill"):
            counts[k] += j[k]
        if phase == "sinks.export_s":
            counts["export_task_ms"] += j["run_ms"]
        if phase == "state.dlq_append_s" and "DataFrameWriter" in j["call_site"]:
            counts["dlq_appends"] += 1
    return by_phase, counts


def layer_common(raw, per, intervals):
    """Spark/JVM layers shared by every workload, normalised by `per`."""
    by_phase, c = window_phases(raw["jobs"], intervals)
    lay = raw["layers"]
    out = {p: by_phase.get(p, 0.0) / per for p in M.PHASES + [M.UNATTRIBUTED]}
    out.update({
        "spark.jobs": c["jobs"] / per, "spark.stages": c["stages"] / per,
        "spark.tasks": c["tasks"] / per, "spark.task_cpu_s": c["cpu_ns"] / 1e9 / per,
        "spark.shuffle_write_bytes": c["shuffle_write"] / per, "spark.spill_bytes": c["spill"] / per,
        "spark.janino_compiles": lay.get("janino_compiles", 0) / per,
        "spark.janino_s": lay.get("janino_s", 0.0) / per, "jvm.gc_s": lay.get("gc_s", 0.0) / per,
        "jvm.heap_peak_mb": lay.get("heap_peak_mb", 0.0),
        "sinks.export_task_s": c["export_task_ms"] / 1000.0 / per,
    })
    return out, c


def fanout_metrics(raw, trace):
    cycles = raw["cycles"]
    walls = [(c["end_ms"] - c["start_ms"]) / 1000.0 for c in cycles]
    latencies, lateness, undelivered = M.open_loop(raw["commits"])
    e2e = {"op_p50_s": M.median(walls),
           "latency_p50_s": M.median(latencies),
           "latency_tail_s": M.percentile(latencies, TAIL["relay_fanout"])}
    tail = M.highest_supported_percentile(len(latencies))
    info = {"cycle_p50_s": (e2e["op_p50_s"], "s"),
            "delivery_p50_s": (e2e["latency_p50_s"], "s"),
            "delivery_samples": (len(latencies), "count"),
            "undelivered_commits": (undelivered, "count"),
            "delivery_tail_percentile": (tail, "pct"),
            "cycles": (len(cycles), "count"),
            "gen_late_p95_s": (M.percentile(lateness, 95), "s")}
    if tail is not None and tail >= 95:
        info["delivery_p95_s"] = (M.percentile(latencies, 95), "s")
    if not trace:
        return e2e, info, {}
    traced = [c for c in cycles if c["traced"]]
    plain = [w for c, w in zip(cycles, walls) if not c["traced"]]
    n = len(traced)
    intervals = [(c["start_ms"], c["end_ms"]) for c in traced]
    lay, c = layer_common(raw, n, intervals)
    cycle_s = sum((c2["end_ms"] - c2["start_ms"]) / 1000.0 for c2 in traced) / n
    lay.update({
        "streaming.cycle_s": cycle_s,
        "streaming.driver_gap_s": cycle_s - c["job_s"] / n,
        "streaming.jobs_per_cycle": c["jobs"] / n,
        "state.commits_per_cycle": sum(c2["commits"] for c2 in traced) / n,
        "state.dlq_appends_per_cycle": c["dlq_appends"] / n,
        "state.dlq_rows": raw["layers"]["dlq_rows"],
        "state.replayed": sum(c2["replayed"] for c2 in traced) / n,
        **{f"sinks.{k}": raw["layers"][k] / n
           for k in ("envelopes", "http_requests", "http_bytes", "files", "file_bytes")},
        "sinks.failures": raw["layers"]["sink_failures"] / n,
        "gen.late_p95_s": M.percentile(lateness, 95),
        "trace_overhead": M.median([(c2["end_ms"] - c2["start_ms"]) / 1000.0
                                    for c2 in traced]) / M.median(plain),
    })
    return e2e, info, lay


def sync_metrics(raw, trace):
    passes = raw["passes"]
    walls = [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in passes]
    # Envelope arrival percentiles per pass, then the median over passes, so
    # one slow pass cannot own the pooled tail. A pass that delivered nothing
    # has failed its check; its wall stands in.
    arrivals = [p["arrivals_s"] or [w] for p, w in zip(passes, walls)]
    e2e = {"op_p50_s": M.median(walls),
           "latency_p50_s": M.median([M.median(a) for a in arrivals]),
           "latency_tail_s": M.median([M.percentile(a, TAIL["relay_initial_sync"])
                                       for a in arrivals])}
    rows = raw["rows"]
    info = {"sync_rows_per_s": (M.median([rows / w for w in walls]), "rows/s"),
            "passes": (len(passes), "count")}
    if not trace:
        return e2e, info, {}
    traced = [p for p in passes if p["traced"]]
    plain = [w for p, w in zip(passes, walls) if not p["traced"]]
    n = len(traced)
    lay, c = layer_common(raw, n, [(p["start_ms"], p["end_ms"]) for p in traced])
    pass_s = sum((p["end_ms"] - p["start_ms"]) / 1000.0 for p in traced) / n
    lay.update({
        "streaming.cycle_s": pass_s,
        "streaming.driver_gap_s": pass_s - c["job_s"] / n,
        "streaming.jobs_per_cycle": c["jobs"] / n,
        "state.commits_per_cycle": sum(p["commits"] for p in traced) / n,
        "state.dlq_appends_per_cycle": c["dlq_appends"] / n,
        "sinks.envelopes": sum(p["envelopes"] for p in traced) / n,
        "sinks.http_requests": sum(p["envelopes"] for p in traced) / n,
        "sinks.http_bytes": sum(p["http_bytes"] for p in traced) / n,
        "sinks.files": sum(p["files"] for p in traced) / n,
        "sinks.file_bytes": sum(p["file_bytes"] for p in traced) / n,
        "trace_overhead": M.median([(p["end_ms"] - p["start_ms"]) / 1000.0
                                    for p in traced]) / M.median(plain),
    })
    return e2e, info, lay


def registry_metrics(raw, trace):
    passes = raw["passes"]
    plain = [p for p in passes if not p["traced"]]
    queries = sorted({q for p in plain for q in p["queries"]})
    per_query = {q: M.median([p["queries"][q] for p in plain if q in p["queries"]])
                 for q in queries}
    fam = {f: sum(v for q, v in per_query.items() if family(q) == f) for f in FAMILY_NAMES}
    samples = [t for p in plain for t in p["queries"].values()]
    e2e = {"op_p50_s": M.median([sum(p["queries"].values()) for p in plain]),
           "latency_p50_s": M.median(samples),
           "latency_tail_s": M.percentile(samples, TAIL["registry"])}
    info = {"registry_total_s": (sum(per_query.values()), "s"),
            "query_runs": (len(samples), "count"),
            "queries": (len(queries), "count")}
    for f in FAMILY_NAMES:
        info[f"registry_{f}_s"] = (fam[f], "s")
    if not trace:
        return e2e, info, {}
    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    lay, _ = layer_common(raw, n, [(p["start_ms"], p["end_ms"]) for p in traced])
    for ph in REG_PHASES:
        lay[f"registry.{ph}_s"] = sum(x[ph] for p in traced for x in p["phases"].values()) / n
        for f in FAMILY_NAMES:
            lay[f"registry.{f}.{ph}_s"] = sum(
                x[ph] for p in traced for q, x in p["phases"].items() if family(q) == f) / n
    for f in FAMILY_NAMES:
        lay[f"registry.{f}_s"] = fam[f]
    lay["runtime.small_tier_queries"] = sum(p["small_tier"] for p in traced) / n
    lay["trace_overhead"] = M.median([sum(p["queries"].values()) for p in traced]) / e2e["op_p50_s"]
    return e2e, info, lay


def registry_oracle(data, work):
    """The DuckDB oracle comparison of tools/check_correctness.py over the
    untimed pass's results. Returns the failing query names."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_correctness.py"),
                        os.path.join(data, "tables"), os.path.join(work, "results")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    fails = [line.split()[1].rstrip(":") for line in p.stdout.splitlines()
             if line.startswith("FAIL ")]
    for line in p.stdout.splitlines():
        if line.startswith("FAIL") or " pass / " in line:
            log(f"oracle: {line}")
    if p.returncode not in (0, 1) or " pass / " not in p.stdout:
        fails.append("_oracle_check_did_not_run")
    return fails


# ---- main -----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="also write the full result (metrics, info, failures) here")
    a = ap.parse_args()

    # Set-up time counts from process start but leaves out a build.
    startup_s = time.time() - PROCESS_START
    cp = build()
    cfg = WORKLOADS[a.workload]
    t_start = time.time()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        rng = np.random.default_rng(a.seed)
        jvm_args = {"workload": a.workload, "data": data, "work": work,
                    "seconds": a.seconds, "trace": a.trace}
        if a.workload == "relay_fanout":
            gen.fanout(rng, data, cfg["objects"], cfg["secondary"], cfg["base_rows"],
                       cfg["commit_rows"], cfg["period_s"], a.seconds)
            jvm_args["warm_cycles"] = cfg["warm_cycles"]
        elif a.workload == "relay_initial_sync":
            gen.initial_sync(rng, data, cfg["rows"])
            jvm_args.update(rows=cfg["rows"], batch_rows=cfg["batch_rows"],
                            warm_passes=cfg["warm_passes"])
        else:
            gen.registry_tables(rng, data, cfg["sf"])
            jvm_args["queries"] = ",".join(cfg["queries"])
        gen_s = time.time() - t_start
        t_jvm = time.time()
        raw = run_jvm(cp, work, jvm_args)
        setup_s = startup_s + gen_s + raw["setup_done_ms"] / 1000.0 - t_jvm

        failures = dict(raw.get("failures", {}))
        attempted = raw["attempted"]
        if a.workload == "relay_fanout":
            e2e, info, lay = fanout_metrics(raw, a.trace)
            failed = sum(failures.values())
        elif a.workload == "relay_initial_sync":
            e2e, info, lay = sync_metrics(raw, a.trace)
            failed = sum(1 for p in raw["passes"] if not p["ok"])
        else:
            e2e, info, lay = registry_metrics(raw, a.trace)
            bad = registry_oracle(data, work)
            for q in bad:
                failures[f"oracle_mismatch:{q}"] = 1
            for q, msg in raw["errors"].items():
                failures[f"error:{q}"] = 1
                log(f"query error {q}: {msg}")
            # A run fails when its query threw or its output failed the oracle.
            failed = sum(1 for p in raw["passes"] for q in raw["names"]
                         if q not in p["queries"] or q in bad)
        e2e["setup_s"] = setup_s
    finally:
        shutil.rmtree(work, ignore_errors=True)

    error_share = failed / attempted
    correct = not failures
    for name, value in sorted(e2e.items()):
        print(f"{name} {value:.6f} {END_TO_END[name]}")
    for name, (value, unit) in sorted(info.items()):
        print(f"{name} {value} {unit}")
    print(f"error_share {error_share:.6f} ratio ({failed} of {attempted})")
    if a.trace:
        for name in PER_LAYER:
            print(f"{name} {lay.get(name, 0)} {unit_of(name)}")
    for what, n in failures.items():
        print(f"CHECK FAILED {what} x{n}")
    print(f"correct {str(correct).lower()}")

    if a.trace:
        chosen = {k: {"value": float(lay.get(k, 0)), "unit": unit_of(k)} for k in PER_LAYER}
    else:
        chosen = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": chosen}
    if a.save:
        with open(a.save, "w") as f:
            json.dump(dict(result, workload=a.workload, seed=a.seed, trace=a.trace,
                           info={k: v[0] for k, v in info.items()}, failures=failures), f)
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
