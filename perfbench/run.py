#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload incident|curation|dashboard \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
from source with sbt (offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. The seed draws the request
sequence; graft only ever sees the generated sequence. `--seconds` sets
how many rounds of it a run measures (see ROUND_SECONDS). `--trace 0` prints
the end-to-end metrics, `--trace 1` the per-layer metrics of a traced
round. See perfbench/README.md for what each workload and metric is for.

    python3 perfbench/run.py --record [--sf-dir DIR]

recomputes the reference digests in perfbench/digests.json.
"""
import argparse
import hashlib
import json
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
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
DIGESTS = os.path.join(HERE, "digests.json")
DEFAULT_SF = "/root/testdata/sf0.1"
JVM_TIMEOUT_S = 170
# The heap the repository's own build gives graft's JVMs (build.sbt).
HEAP = "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")

# Dashboard requests. Each page view loads the timeline and the three
# counters together, as the reference dashboard's page does
# (src/dashboard/app.py:14-43), so a round holds each of them once per view.
# The on-demand queries follow with Zipf popularity (s = 1) at ranks 2, 3,
# ..., after the page load at rank 1: the one at rank r comes
# max(1, round(VIEWS / r)) times. The searches come first because the
# reference page offers a search over its entries (app.py:62-88); the
# order of the rest is an assumption.
PAGE_LOAD = [
    "metrics_timeline", "metrics_by_service", "metrics_by_namespace",
    "metrics_by_level",
]
ON_DEMAND = [
    "search_keyword", "search_entries", "search_all", "ingest_errors",
    "metrics_rollup", "events_pivot", "metrics_moving_avg", "incident_report",
    "slack_message", "anomaly_spikes", "log_templates", "distinct_users",
    "approx_distinct", "props_parse", "preprocess_dedup",
    "ingest_errors_window", "search_entries_purchase", "search_entries_none",
    "search_entries_ns", "search_all_msg", "search_all_none",
]
DASHBOARD = PAGE_LOAD + ON_DEMAND
VIEWS = 3

# Corpus operators of one curation batch: a construction-heavy graph loop,
# two memo-sharing chains and one text kernel. The seed draws the slots a
# chain's members take in a round, but they fill those slots in chain
# order, so the chain's first member always builds the shared memo and
# each operator does the same work in every seed's order. The batch is
# kept to what one run of this benchmark can afford; see
# perfbench/README.md for the operators it leaves out.
CURATION_CHAINS = [
    ["dedup_minhash", "dedup_clusters", "golden_records"],
    ["ann_ivf_seeded", "ann_pq", "dedup_semantic_clusters"],
]
CURATION = ["pagerank_dist"] + [n for c in CURATION_CHAINS for n in c] + [
    "bpe_encode"]

# The 30 days of `events`; an incident run covers one of them. Later days
# hold fewer error lines, so a round draws one day from each third of the
# month and every round carries a like amount of work.
INCIDENT_DAYS = ["2024-01-%02d" % d for d in range(1, 31)]
INCIDENT_THIRDS = [INCIDENT_DAYS[i:i + 10] for i in (0, 10, 20)]

# The workloads BENCHMARK.json names. `dashboard` runs the same way but is
# left out of it: see perfbench/README.md.
WORKLOADS = ("incident", "curation")
EXTRA_WORKLOADS = ("dashboard",)
PLAN_ROUNDS = 40
# Seconds of --seconds that buy one round. A run measures
# round(--seconds / this) rounds, at least one, so the work a run measures
# depends only on its arguments, never on how fast the host happens to be.
# At --seconds 15 that is three incident rounds (4-5 s each) and one
# curation round (18-22 s): with set-up and checks, the 48 runs of a
# two-workload campaign take about 45 minutes on a slow shared host.
ROUND_SECONDS = {"incident": 5.0, "dashboard": 12.0, "curation": 18.0}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "latency_p50_s": "s",
    "latency_tail_s": "s", "success_rate": "ratio",
}
PER_LAYER = {
    "operators.construct_s": "s", "operators.construct_jobs": "count",
    "planning.catalyst_ms": "ms",
    "execution.exec_s": "s", "execution.jobs": "count",
    "execution.stages": "count", "execution.tasks": "count",
    "execution.driver_gap_s": "s", "execution.sched_wait_s": "s",
    "execution.busy_frac": "ratio",
    "execution.shuffle_write_mb": "MB", "execution.shuffle_read_mb": "MB",
    "execution.spill_mb": "MB", "execution.result_mb": "MB",
    "execution.failed_tasks": "count",
    "sources.input_rows": "count", "sources.input_mb": "MB",
    "sources.output_mb": "MB",
    "pipeline.write_index_s": "s", "pipeline.rag_batch_s": "s",
    "pipeline.history_s": "s", "pipeline.write_index_jobs": "count",
    "pipeline.rag_batch_jobs": "count", "pipeline.history_jobs": "count",
    "pipeline.rag_scored_per_kept": "ratio",
    "sources.scan_rows_per_s": "1/s", "sources.scan_rows": "count",
    "expressions.embed_rows_per_s": "1/s", "expressions.embed_rows": "count",
    "functions.redact_pii_rows_per_s": "1/s",
    "functions.redact_pii_rows": "count",
    "functions.redact_secrets_rows_per_s": "1/s",
    "functions.redact_secrets_rows": "count",
    "functions.dot_rows_per_s": "1/s", "functions.dot_rows": "count",
    "functions.bpe_tokens_rows_per_s": "1/s",
    "functions.bpe_tokens_rows": "count",
    "memory.cached_mb": "MB",
    "trace.overhead_ratio": "ratio", "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s", "trace.unattributed_jobs": "count",
}


def plan(workload, seed, rounds=PLAN_ROUNDS):
    """The seeded request sequence: a list of rounds, each a list of ops.
    Every round holds the same operations; the seed draws their order."""
    rng = random.Random("%s:%d" % (workload, seed))
    if workload == "dashboard":
        base = PAGE_LOAD * VIEWS + [
            n for r, n in enumerate(ON_DEMAND, 2)
            for _ in range(max(1, round(VIEWS / r)))]
    elif workload == "curation":
        base = list(CURATION)
    elif workload == "incident":
        cycles = []
        for third in INCIDENT_THIRDS:
            days = []
            while len(days) < rounds:
                cycle = list(third)
                rng.shuffle(cycle)
                days += cycle
            cycles.append(days)
        out = []
        for i in range(rounds):
            r = [days[i] for days in cycles]
            rng.shuffle(r)
            out.append(r)
        return out
    else:
        raise ValueError("unknown workload %r" % workload)
    out = []
    for _ in range(rounds):
        r = list(base)
        rng.shuffle(r)
        if workload == "curation":
            for chain in CURATION_CHAINS:
                slots = [i for i, n in enumerate(r) if n in chain]
                for i, n in zip(slots, chain):
                    r[i] = n
        out.append(r)
    return out


def tail(lat):
    """(percentile, value) of the highest sample with ten samples above it.
    With fewer than 20 samples that rank is below the median, so the tail
    falls back to the median and reads as percentile 50."""
    xs = sorted(lat)
    k = len(xs) - 10
    if k < (len(xs) + 1) // 2:
        return 50.0, statistics.median(xs)
    return 100.0 * k / len(xs), xs[k - 1]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for base in (GRAFT_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(GRAFT_SRC):
        die("graft sources not found at %s" % GRAFT_SRC)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, env=env,
                             stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        die("build failed, see .bench_build/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_harness(workload, rounds, sf, trace, tag):
    """Runs one harness process over `rounds` and returns its result."""
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    plan_file = os.path.join(work, "plan.tsv")
    with open(plan_file, "w") as f:
        for i, r in enumerate(rounds):
            for op in r:
                f.write("%d\t%s\n" % (i, op))
    result = os.path.join(work, "result.json")
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    cmd = ["java"] + [x for p in ADD_OPENS
                      for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", CLASSES + os.pathsep + jars, "graft.perfbench.Harness",
        "--workload", workload, "--plan", plan_file, "--sf", sf,
        "--warm", warm_dir(sf), "--trace", str(trace),
        "--cpus", str(cpus()), "--work", work,
        "--result", result, "--t0-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness timed out after %d s, see %s" % (JVM_TIMEOUT_S, log_path))
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        die("harness exited with %d" % rc)
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    return res


def sf_name(sf):
    return os.path.basename(os.path.normpath(sf))


def warm_dir(sf):
    return os.path.join(os.path.dirname(os.path.normpath(sf)), "sf0.001")


def record(sf):
    """Digests of every operation each workload can draw, on `sf`."""
    with open(DIGESTS) as f:
        digests = json.load(f)
    out = {}
    for w in WORKLOADS + EXTRA_WORKLOADS:
        ops = sorted({op for r in plan(w, 0) for op in r})
        res = run_harness(w, [ops], sf, 0, "record-" + w)
        for o in res["ops"]:
            if o["error"]:
                die("%s %s failed while recording: %s" % (w, o["name"], o["error"]))
            out["%s:%s" % (w, o["name"])] = o["digest"]
    digests[sf_name(sf)] = out
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print("recorded %d digests for %s" % (len(out), sf_name(sf)))


def untraced_reference(key, run_reference):
    """Median first-round wall of the untraced runs made in this checkout
    under `key`, which names the sources built; with none yet, one
    untraced first round is run now."""
    path = os.path.join(BUILD, "untraced", key + ".txt")
    walls = []
    if os.path.exists(path):
        with open(path) as f:
            walls = [float(x) for x in f.read().split()]
    extra = []
    if not walls:
        res = run_reference()
        remember_untraced(key, res)
        walls = [first_round_wall(res)]
        extra = res["ops"]
    return statistics.median(walls), extra


def first_round_wall(res):
    return next(r["wall_s"] for r in res["rounds"] if r["round"] == 0)


def remember_untraced(key, res):
    os.makedirs(os.path.join(BUILD, "untraced"), exist_ok=True)
    with open(os.path.join(BUILD, "untraced", key + ".txt"), "a") as f:
        f.write("%r\n" % first_round_wall(res))


def metric(v, unit):
    return {"value": v, "unit": unit}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + EXTRA_WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=DEFAULT_SF)
    ap.add_argument("--ops", type=int, default=0,
                    help="cut every round to this many operations (smoke runs)")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    for d in (a.sf_dir, warm_dir(a.sf_dir)):
        if not os.path.isdir(d):
            die("test data not found at %s" % d)
    build()
    if a.record:
        record(a.sf_dir)
        return
    if not a.workload:
        die("--workload is required")
    n_rounds = max(1, round(a.seconds / ROUND_SECONDS[a.workload]))
    rounds = plan(a.workload, a.seed, n_rounds if not a.trace else 1)
    if a.ops:
        rounds = [r[:a.ops] for r in rounds]
    tag = "%s-%d-%d" % (a.workload, a.seed, a.trace)
    key = "%s-%s-ops%d-%s" % (a.workload, sf_name(a.sf_dir), a.ops,
                              source_stamp()[:16])
    ops = []
    if a.trace:
        ref, ops = untraced_reference(key, lambda: run_harness(
            a.workload, rounds, a.sf_dir, 0, tag + "-ref"))
    res = run_harness(a.workload, rounds, a.sf_dir, a.trace, tag)
    ops = ops + res["ops"]

    with open(DIGESTS) as f:
        expected = json.load(f).get(sf_name(a.sf_dir), {})
    failed = 0
    for o in ops:
        want = expected.get("%s:%s" % (a.workload, o["name"]))
        if o["error"] or want is None or o["digest"] != want:
            failed += 1
            print("perfbench: %s failed: %s" % (o["name"], o["error"] or
                  "digest %s, expected %s" % (o["digest"], want)), file=sys.stderr)
    attempted = len(ops)
    lat = [o["lat_s"] for o in res["ops"]]
    walls = [r["wall_s"] for r in res["rounds"]]
    pct, tail_v = tail(lat)
    detail = {
        "workload": a.workload, "seed": a.seed, "sf": sf_name(a.sf_dir),
        "samples": len(lat), "rounds": len(walls), "round_walls_s": walls,
        "latency_tail_percentile": pct, "error_rate": failed / attempted,
        "session_s": res["session_s"], "check_s": res["check_s"],
        "cached_mb": res["cached_mb"],
        "cpus": cpus(),
    }
    if a.trace:
        layers = dict(res["layers"])
        layers["trace.untraced_wall_s"] = ref
        layers["trace.overhead_ratio"] = layers["trace.traced_wall_s"] / ref
        layers["memory.cached_mb"] = res["cached_mb"]
        metrics = {k: metric(layers[k], u) for k, u in PER_LAYER.items()}
    else:
        if failed == 0:
            remember_untraced(key, res)
        values = {
            "setup_s": res["setup_s"],
            "wall_s": statistics.median(walls),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_v,
            "success_rate": (attempted - failed) / attempted,
        }
        metrics = {k: metric(values[k], u) for k, u in END_TO_END.items()}
    print("detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
