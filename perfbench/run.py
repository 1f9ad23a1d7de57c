#!/usr/bin/env python3
"""End-to-end medallion benchmark: landed -> bronze -> DQ-gated silver -> gold.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the library sources
(``src/main/scala``) together with this benchmark's JVM side
(``perfbench/scala``) into ``.bench_build/`` with the Scala compiler that
ships in the Spark installation; later runs reuse the classes while the
sources are unchanged.

Each run stages seeded inputs (``gen.py``), starts one JVM with Spark in
``local[nproc]``, sets up the workload, measures it for ``--seconds``,
checks the outputs with the workload's correctness gate and prints, as the
last line of stdout, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones. The line before it
carries the run's context (load, lateness, failure ratio, sample counts).
A failed gate or operation makes the command exit 1.
"""

import argparse
import glob
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

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SOURCES = os.path.join(ROOT, "src", "main", "scala")
LIB_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SOURCES = os.path.join(HERE, "scala")

def _spark_jars():
    """`jars/` of $SPARK_HOME, else of the first Spark installation on PATH
    that ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return ""


SPARK_JARS = _spark_jars()
DEADLINE_S = 175.0

# the workloads BENCHMARK.json declares, with the reason each was chosen
WORKLOADS = {
    "medallion_batch": "closed loop, one caller: one Medallion.run per rep over a "
                       "10-day sf0.1 window; the gold step is the largest (~40% of a rep)",
    "cdc_upsert": "open loop at a tenth of capacity: Debezium Avro change files merged "
                  "into silver and retracted in a live view; per-batch cost of the merge path",
}

END_TO_END = [
    ("latency_p50_s", "s", "lower"),
    ("latency_p90_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("write_amp", "ratio", "lower"),
    ("files_per_krow", "count", "lower"),
    ("setup_s", "s", "lower"),
]

STREAM_QUERIES = ["silver", "gold"]

PER_LAYER = (
    [(f"pipeline.{s}_s", "s", "lower")
     for s in ("to_bronze", "customers_to_silver", "to_silver", "to_gold")]
    + [(f"streaming.{q}.{m}", u, b) for q in STREAM_QUERIES for (m, u, b) in (
        ("batches", "count", "lower"), ("rows_per_batch", "count", "higher"),
        ("trigger_p50_s", "s", "lower"), ("add_batch_p50_s", "s", "lower"),
        ("planning_p50_s", "s", "lower"), ("offsets_p50_s", "s", "lower"))]
    + [("catalog.commits", "count", "lower"), ("catalog.commit_p50_s", "s", "lower"),
       ("catalog.log_versions", "count", "lower"),
       ("catalog.files_written", "count", "lower"),
       ("catalog.bytes_written", "bytes", "lower"),
       ("catalog.rows_rewritten_per_changed_row", "ratio", "lower"),
       ("dq.validate_p50_s", "s", "lower"), ("dq.quarantined_ratio", "ratio", "lower"),
       ("gold.view_rows", "count", "lower")]
    + [(f"spark.{m}", u, "lower") for (m, u) in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("planning_s", "s"), ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"))]
    + [(f"self.{layer}_s", "s", "lower") for layer in (
        "pipeline", "streaming", "catalog", "dq", "gold", "cdc", "ops", "other")]
    + [("harness.generator_late_p90_s", "s", "lower"), ("harness.load_start", "load", "lower"),
       ("harness.load_contaminated", "flag", "lower"),
       ("harness.tracing_overhead", "ratio", "lower")]
)

JVM_OPTS = [
    # no hsperfdata file in the system temp directory
    "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def _scala_files(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def build():
    """Compile library + benchmark sources once per source state; return the
    classes directory."""
    lib = _scala_files(LIB_SOURCES)
    if not lib:
        raise BenchError(f"no library sources under {os.path.relpath(LIB_SOURCES, ROOT)}; "
                         "run from a checkout of the repository")
    if not os.path.isdir(SPARK_JARS):
        raise BenchError("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    files = lib + _scala_files(BENCH_SOURCES)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".built")):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BenchError("compilation failed")
    if os.path.isdir(LIB_RESOURCES):
        shutil.copytree(LIB_RESOURCES, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".built"), "w").close()
    os.rename(tmp, classes)
    return classes


def run_jvm(classes, workload, staged, work, seconds, trace, timeout_s):
    """Run the benchmark JVM; return its result document."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
            os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")]),
            "graft.perfbench.Main", "--workload", workload, "--staged", staged,
            "--work", work, "--seconds", str(seconds), "--trace", str(int(trace)),
            "--out", out])
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError(f"benchmark JVM exceeded {timeout_s:.0f}s")
    finally:
        log.close()
    if not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"benchmark JVM exited {proc.returncode} without a result")
    with open(out) as f:
        return json.load(f)


def _p50(samples, name):
    return stats.median(samples[name]) if samples.get(name) else 0.0


def end_to_end(workload, r):
    v, s = r["values"], r["samples"]
    lat = s["latency_s"]
    if workload == "medallion_batch":
        # a run holds ~5 reps: no tail has ten samples beyond it, so the
        # highest percentile the run supports is the median
        p90 = stats.median(lat)
    else:
        p90 = stats.tail(lat, 0.9)
    return {
        "latency_p50_s": stats.median(lat),
        "latency_p90_s": p90,
        "rows_per_s": v["rows_per_s"],
        "write_amp": v["write_amp"],
        "files_per_krow": v["files_per_krow"],
        "setup_s": v["setup_s"],
    }


def _cpu_times():
    """Aggregate (steal, total) CPU jiffies from /proc/stat; None where absent."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal guest guest_nice; guest
    # time is already counted in user and nice
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def _late_p90(r):
    late = r["samples"].get("generator_late_s")
    return stats.nearest_rank(late, 0.9) if late else 0.0


def per_layer(r, load_start, nproc):
    v, s = r["values"], r["samples"]
    m = {name: v.get(name, 0.0) for name, _, _ in PER_LAYER}
    for step in ("to_bronze", "customers_to_silver", "to_silver", "to_gold"):
        m[f"pipeline.{step}_s"] = _p50(s, f"pipeline.{step}_s")
    for q in STREAM_QUERIES:
        for part in ("trigger", "add_batch", "planning", "offsets"):
            m[f"streaming.{q}.{part}_p50_s"] = _p50(s, f"streaming.{q}.{part}_s")
    m["catalog.commit_p50_s"] = _p50(s, "catalog.commit_s")
    m["dq.validate_p50_s"] = _p50(s, "dq.validate_s")
    m["harness.generator_late_p90_s"] = _late_p90(r)
    m["harness.load_start"] = load_start
    m["harness.load_contaminated"] = 1.0 if load_start > nproc / 4 else 0.0
    if s.get("traced_latency_s") and s.get("latency_s"):
        m["harness.tracing_overhead"] = (stats.median(s["traced_latency_s"])
                                         / stats.median(s["latency_s"]))
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)
    t_start = time.monotonic()
    nproc = os.cpu_count() or 1
    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    try:
        classes = build()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    staged, work = os.path.join(run_dir, "staged"), os.path.join(run_dir, "work")
    try:
        t0 = time.monotonic()
        manifest = gen.stage(a.workload, a.seed, a.seconds, staged)
        gen_s = time.monotonic() - t0
        r = run_jvm(classes, a.workload, staged, work, a.seconds, a.trace,
                    DEADLINE_S - (time.monotonic() - t_start))
        r["values"]["setup_s"] = r["values"].get("setup_s", 0.0) + gen_s
        load_end = os.getloadavg()[0]
        cpu_end = _cpu_times()
        # share of CPU time the hypervisor gave to other guests during the run:
        # a slow run on a host that was stealing time is the host's, not the code's
        steal = (round((cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1]), 4)
                 if cpu_start and cpu_end else None)
        failed_checks = [c for c in r["checks"] if not c["ok"]]
        ok = r["failed"] == 0 and not failed_checks
        metrics = {}
        if ok:
            try:
                if a.trace:
                    vals = per_layer(r, load_start, nproc)
                    units = {n: u for n, u, _ in PER_LAYER}
                else:
                    vals = end_to_end(a.workload, r)
                    units = {n: u for n, u, _ in END_TO_END}
                metrics = {n: {"value": vals[n], "unit": units[n]} for n in units}
            except stats.TooFewSamples as e:
                failed_checks.append({"name": "samples", "ok": False, "detail": str(e)})
                r["failed"] += 1
                r["attempted"] += 1
                ok = False
        context = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "nproc": nproc, "load_start": load_start,
            "load_end": load_end, "load_contaminated": load_start > nproc / 4,
            "cpu_steal": steal,
            "generator_late_p90_s": _late_p90(r),
            "failed_ops_ratio": r["failed"] / max(1, r["attempted"]),
            "latency_samples": len(r["samples"].get("latency_s", [])),
            "latency_p90_beyond": stats.beyond(len(r["samples"]["latency_s"]), 0.9)
            if r["samples"].get("latency_s") else 0,
            "rows_per_file": manifest.get("rows_per_file"),
            "session_s": r["values"].get("session_s"), "generate_s": gen_s,
            "failed_checks": failed_checks,
        }
        context.update(r.get("context", {}))
        print(json.dumps({"context": context}, sort_keys=True))
        print(json.dumps({"correct": ok, "attempted": int(r["attempted"]),
                          "failed": int(r["failed"]), "metrics": metrics}))
        return 0 if ok else 1
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
