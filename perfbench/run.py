#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

Usage (from the repository root):

    python3 perfbench/run.py --workload <nvd_query|catalog_heavy>
                             --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the harness from source
(`sbt compile` in perfbench/harness, whose build depends on the repository's
own build). Each run then generates its inputs from the seed, runs the
harness JVM directly (no sbt in the measured process, so nothing frames its
output), checks every operation's output, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the run measures once without and once with the benchmark's
SparkListener and the metrics are the per-layer ones. The full record of a
run (machine block, generator sizes, per-shape latencies, spans, counters,
tracing overhead) lands in .bench_build/perfbench/results/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CWE_CATALOG = os.path.join(ROOT, "src", "test", "resources", "nvd", "cwe_catalog.csv")
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Workload sizes. The nvd feeds are FEED_YEARS year-zips of
# FEED_ITEMS_PER_YEAR CVEs each (8,000 CVEs, about 1.6 MB zipped); the
# catalog tables are generated at CATALOG_SCALE (0.002 = 12,000 lineitem
# rows). Both are sized so that a run, set-up included, takes about 45 s on
# a 4-core machine: at these sizes per-job overhead, not data volume,
# dominates both workloads.
FEED_YEARS = 4
FEED_ITEMS_PER_YEAR = 2000
QUERY_PLAN_OPS = 600
CATALOG_SCALE = 0.002
SETUP_ROUNDS = 3
WORKLOADS = ("nvd_query", "catalog_heavy")
SHAPES = ("cve_report", "score_listing", "cpe_listing", "cwe_lookup")

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads, for the rebuild stamp."""
    out = [os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(top):
            # sbt's own output: target/ anywhere, project/project/ under a build.
            dirs[:] = [x for x in dirs if x != "target"
                       and not (x == "project" and os.path.basename(d) == "project")]
            out.extend(os.path.join(d, f) for f in files
                       if f.endswith((".scala", ".sbt", ".properties", ".java")))
    return sorted(out)


def build():
    """Compiles the program and the harness once per source state; returns
    the harness's runtime classpath, as sbt resolved it."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "scripts", "gen_nvd.py"), CWE_CATALOG,
              os.path.join(HARNESS, "build.sbt")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        die("not a checkout of the repository (missing " +
            ", ".join(os.path.relpath(p, ROOT) for p in missing) + ")")
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "build.stamp")
    classpath = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.exists(classpath):
        return open(classpath).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True)
    with open(log, "w") as f:
        f.write(p.stdout)
    # `export` prints the classpath as one bare line.
    cp = [line for line in p.stdout.splitlines()
          if line.startswith(os.sep) and "scala-2.13" in line]
    if p.returncode != 0 or not cp:
        die(f"build failed (rc {p.returncode}); see {log}")
    with open(classpath, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp[-1]


def generate_inputs(workload, seed, inputs):
    """Seeded inputs for one run; returns the seconds it took."""
    shutil.rmtree(inputs, ignore_errors=True)
    os.makedirs(inputs)
    t0 = time.perf_counter()
    if workload == "catalog_heavy":
        run_py("gen_catalog.py", os.path.join(inputs, "catalog"), str(CATALOG_SCALE))
        # The expected row counts, kept by hand, hold for one catalog scale.
        counts = os.path.join(HERE, "catalog_counts.json")
        with open(counts) as f:
            scale = json.load(f)["catalog_scale"]
        if scale != CATALOG_SCALE:
            die(f"catalog_counts.json holds counts for scale {scale}, not {CATALOG_SCALE}")
        shutil.copy(counts, inputs)
    else:
        run_py("gen_feeds.py", os.path.join(inputs, "feeds"), str(seed), str(FEED_YEARS),
               str(FEED_ITEMS_PER_YEAR), str(QUERY_PLAN_OPS))
        shutil.copy(CWE_CATALOG, inputs)
    return time.perf_counter() - t0


def run_py(script, *args):
    rc = subprocess.run([sys.executable, "-B", os.path.join(HERE, script), *args],
                        stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        die(f"{script} failed (rc {rc})")


def run_jvm(classpath, args, work, log_path):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
        # No hsperfdata file: the JVM would write it under /tmp, outside the work dir.
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        "-cp", classpath,
        "perfbench.BenchMain"] + args
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS, when set, overrides the harness's spark.local.dir
        # (inside the work directory).
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            die(f"harness JVM timed out after {JVM_TIMEOUT_S} s; see {log_path}")
    if rc != 0:
        die(f"harness JVM failed (rc {rc}); see {log_path}")


# ── metrics ──

LOOP_LAYERS = ("queries", "operators")
LAND_LAYERS = ("ingest", "flatten", "warehouse")


def tail_percentile(xs):
    """(name, value): the median's partner, the highest of p99/p95/p90/p75
    with at least ten samples beyond it (nearest rank), or None."""
    s = sorted(xs)
    for p in (99, 95, 90, 75):
        k = max(0, -(-p * len(s) // 100) - 1)
        if len(s) - 1 - k >= 10:
            return f"p{p}", s[k]
    return None


def cpu_probe_ms():
    """Wall time of a fixed single-threaded loop: how fast this machine ran
    at the moment, for reading results taken at different times."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def machine(seed, probes):
    mem = -1
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
            "mem_available_mb": mem, "seed": seed, "cpu_probe_ms": probes}


def latencies(ops):
    """Operation times in ms, a failed operation counting as slower than
    every successful one (beyond every percentile)."""
    worst = max(o["ms"] for o in ops)
    return [o["ms"] if o["ok"] else worst for o in ops]


def shape_latencies(ops):
    """Latencies in ms by query shape: nvd_query's four shapes, or
    catalog_heavy's member queries (a pass runs each member once)."""
    units = [m for o in ops for m in o.get("members", [o])]
    by_shape = {}
    for u, ms in zip(units, latencies(units)):
        by_shape.setdefault(u["shape"], []).append(ms)
    return by_shape


def phase_summary(ph):
    """The end-to-end figures of one phase. Latency is summarised per query
    shape, then across shapes: in an equal mix of shapes whose latencies
    differ several-fold, the median of all operations falls in the gap
    between two shapes and jumps with a few samples on either side."""
    ops = ph["ops"]
    ok = sum(1 for o in ops if o["ok"])
    p50s = [statistics.median(xs) for xs in shape_latencies(ops).values()]
    return {"ops": len(ops), "ops_per_s": 1000.0 * ok / sum(o["ms"] for o in ops),
            "shape_p50_geomean_ms": math.exp(statistics.mean(math.log(x) for x in p50s)),
            "cpu_ms_per_op": sum(o["cpu_ms"] for o in ops) / len(ops),
            "wall_s": ph["wall_s"]}


def end_to_end(raw, plain):
    """Set-up is session start, input generation, the one-time preparation
    and the median of the repeated set-up rounds."""
    rounds = [r["ms"] for r in raw["setup_rounds"]]
    return {"setup_s": raw["session_s"] + raw["inputs_s"] + raw["prepare"]["ms"] / 1000.0 +
            statistics.median(rounds) / 1000.0,
            "ops_per_s": plain["ops_per_s"], "shape_p50_geomean_ms": plain["shape_p50_geomean_ms"],
            "cpu_ms_per_op": plain["cpu_ms_per_op"]}


def landing_detail(land):
    return {"ingest_cves_per_s": land["rows"] / (land["ms"] / 1000.0),
            "warehouse_bytes_per_feed_byte":
                (land["csv_bytes"] + land["catalog_bytes"]) / land["zip_bytes"],
            "csv_files": land["csv_files"], "csv_bytes": land["csv_bytes"],
            "catalog_files": land["catalog_files"], "catalog_bytes": land["catalog_bytes"]}


def workload_detail(raw, plain_phase):
    """The workload's own figures: per-shape latencies, landing rate, ..."""
    ops = plain_phase["ops"]
    by_shape = shape_latencies(ops)
    if raw["workload"] == "nvd_query":
        out = {"cold_landing": landing_detail(raw["prepare"])}
        for shape, xs in by_shape.items():
            d = {"n": len(xs), "p50_ms": statistics.median(xs)}
            tail = tail_percentile(xs)
            if tail:
                d[f"{tail[0]}_ms"] = tail[1]
            out[shape] = d
        out["query_ops_per_s"] = len(ops) / plain_phase["wall_s"]
        return out
    return {"catalog_s": statistics.median(o["ms"] for o in ops) / 1000.0,
            "members_p50_ms": {q: statistics.median(xs) for q, xs in sorted(by_shape.items())}}


def per_layer(raw, plain, traced_phase):
    """Per-layer metrics from the traced phase's spans and listener counters.
    Loop figures are per operation; landing figures are per landing."""
    spans, counters = traced_phase["spans"], traced_phase["counters"]
    ops = traced_phase["ops"]
    n = len(ops)
    layer_of = lambda key: key.split("|")

    def span_sum(pred):
        return sum(v["wall_s"] for k, v in spans.items() if pred(*layer_of(k)))

    def ctr(field, pred):
        return sum(v[field] for k, v in counters.items() if pred(*layer_of(k)))

    loop = lambda layer, member, ph: layer in LOOP_LAYERS
    traced = phase_summary(traced_phase)
    m = {
        "layer.construct_s": span_sum(lambda l, mem, ph: l in LOOP_LAYERS and ph in ("construct", "build")) / n,
        "layer.plan_s": span_sum(lambda l, mem, ph: l in LOOP_LAYERS and ph == "plan") / n,
        "layer.exec_s": span_sum(lambda l, mem, ph: l in LOOP_LAYERS and ph == "exec") / n,
        "spark.jobs": ctr("jobs", loop) / n, "spark.stages": ctr("stages", loop) / n,
        "spark.tasks": ctr("tasks", loop) / n,
        "spark.failed_tasks": ctr("failed_tasks", lambda *k: True),
        "spark.task_cpu_s": ctr("task_cpu_s", loop) / n,
        "spark.task_run_s": ctr("task_run_s", loop) / n,
        "spark.task_wait_s": ctr("task_wait_s", loop) / n,
        "spark.busy_cores": ctr("task_run_s", loop) / traced_phase["wall_s"],
        "spark.one_task_stage_share": ctr("one_task_stages", loop) / max(1, ctr("stages", loop)),
        "spark.input_bytes": ctr("input_bytes", loop) / n,
        "spark.output_bytes": ctr("output_bytes", loop) / n,
        "spark.shuffle_read_bytes": ctr("shuffle_read_bytes", loop) / n,
        "spark.shuffle_write_bytes": ctr("shuffle_write_bytes", loop) / n,
        "spark.spill_bytes": ctr("spill_bytes", loop) / n,
        "process.peak_rss_mb": raw["peak_rss_mb"],
        "setup.session_s": raw["session_s"], "setup.inputs_s": raw["inputs_s"],
        "setup.prepare_s": raw["prepare"]["ms"] / 1000.0,
        "setup.round_s": statistics.median(r["ms"] for r in raw["setup_rounds"]) / 1000.0,
        "trace.overhead_geomean_ms": traced["shape_p50_geomean_ms"] - plain["shape_p50_geomean_ms"],
    }
    # cve.Ingest / cve.Flatten / cve.Warehouse writes: the traced landing.
    lands = traced_phase["prelude"]
    k = len(lands)
    land = lambda layer, member, ph: layer in LAND_LAYERS
    feed_tasks = ctr("feed_scan_tasks", land)
    m["ingest.parse_tasks"] = feed_tasks / k if k else 0
    m["ingest.feed_scans_per_ingest"] = feed_tasks / sum(o["zips"] for o in lands) if k else 0
    m["ingest.input_bytes_per_feed_byte"] = \
        ctr("input_bytes", land) / sum(o["zip_bytes"] for o in lands) if k else 0
    m["warehouse.files_written"] = sum(o["csv_files"] + o["catalog_files"] for o in lands) / max(1, k)
    m["warehouse.bytes_written"] = sum(o["csv_bytes"] + o["catalog_bytes"] for o in lands) / max(1, k)
    # cve.Warehouse reads and cve.Queries, per query shape (nvd_query).
    for shape in SHAPES:
        mine = [o for o in ops if o["shape"] == shape]
        j = max(1, len(mine))
        returned = sum(o["rows"] for o in mine)
        m[f"warehouse.{shape}.files_read"] = sum(o.get("files_read", 0) for o in mine) / j
        m[f"warehouse.{shape}.bytes_read"] = sum(o.get("bytes_read", 0) for o in mine) / j
        m[f"queries.{shape}.rows_scanned_per_row_returned"] = \
            sum(o.get("rows_scanned", 0) for o in mine) / max(1, returned)
        is_shape = lambda l, mem, ph, s=shape: l == "queries" and mem == s
        m[f"queries.{shape}.jobs"] = ctr("jobs", is_shape) / j
        m[f"queries.{shape}.tasks"] = ctr("tasks", is_shape) / j
    # operators.* (catalog_heavy).
    is_op = lambda l, mem, ph: l == "operators"
    m["operators.eager_jobs"] = ctr("jobs", lambda l, mem, ph: l == "operators" and ph == "construct") / n
    for f in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"operators.{f}"] = ctr(f, is_op) / n
    m["operators.one_task_stage_share"] = \
        ctr("one_task_stages", is_op) / max(1, ctr("stages", is_op))
    return m


def trace_record(traced_phase):
    """Every span's time and counters, by `layer.member`, for the record."""
    out = {}
    for key, v in traced_phase["spans"].items():
        layer, member, ph = key.split("|")
        d = out.setdefault(f"{layer}.{member}", {})
        d[f"{ph}_s"], d[f"{ph}_calls"] = v["wall_s"], v["calls"]
    for key, v in traced_phase["counters"].items():
        layer, member, ph = key.split("|")
        out.setdefault(f"{layer}.{member}", {})[f"{ph}_counters"] = v
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    inputs = os.path.join(BUILD, "inputs", a.workload)
    work = os.path.join(BUILD, "work", a.workload)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    probes = [cpu_probe_ms()]
    inputs_s = generate_inputs(a.workload, a.seed, inputs)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    try:
        run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace), inputs, work,
                          raw_path, str(SETUP_ROUNDS), repr(inputs_s)],
                work, os.path.join(results, tag + ".log"))
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(inputs, ignore_errors=True)

    probes.append(cpu_probe_ms())
    phases = raw["phases"]
    # A traced run's plain figures come from both phases around the traced one.
    plain_phase = dict(phases[0], ops=phases[0]["ops"] + (phases[2]["ops"] if a.trace else []),
                       wall_s=phases[0]["wall_s"] + (phases[2]["wall_s"] if a.trace else 0))
    # Every checked unit: a catalog pass counts as its member queries.
    all_ops = [m for o in [raw["prepare"]] + raw["setup_rounds"] +
               [o for ph in phases for o in ph["prelude"] + ph["ops"]]
               for m in o.get("members", [o])]
    failed = [o for o in all_ops if not o["ok"]]
    plain = phase_summary(plain_phase)
    e2e = end_to_end(raw, plain)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "machine": machine(a.seed, probes), "spark_catalog": raw["catalog"],
              "generator": {"feed_years": FEED_YEARS, "feed_items_per_year": FEED_ITEMS_PER_YEAR,
                            "query_plan_ops": QUERY_PLAN_OPS, "catalog_scale": CATALOG_SCALE},
              "setup_rounds_ms": [r["ms"] for r in raw["setup_rounds"]],
              "prepare_s": raw["prepare"]["ms"] / 1000.0,
              "ops_ms": [o["ms"] for o in plain_phase["ops"]],
              "peak_rss_mb": raw["peak_rss_mb"],
              "end_to_end": e2e, "detail": workload_detail(raw, plain_phase),
              "failed_ops_ratio": len(failed) / len(all_ops),
              "failures": [o["error"] for o in failed][:20]}
    if a.trace:
        traced = phase_summary(phases[1])
        metrics = per_layer(raw, plain, phases[1])
        record["per_layer"] = metrics
        record["trace"] = trace_record(phases[1])
        if phases[1]["prelude"]:
            record["detail"]["warm_landing"] = landing_detail(phases[1]["prelude"][0])
        record["tracing_overhead"] = {k: traced[k] - plain[k]
                                      for k in ("ops_per_s", "shape_p50_geomean_ms", "cpu_ms_per_op")}
    else:
        metrics = e2e
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if failed:
        for o in failed[:5]:
            print(f"perfbench: failed {o['shape']}: {o['error']}", file=sys.stderr)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"correct": not failed, "attempted": len(all_ops), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
