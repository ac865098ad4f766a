#!/usr/bin/env python3
"""perfbench: the repository's end-to-end benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cartogram --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark's JVM side from source with sbt
(once per source state), generates the workload's inputs from the seed,
times the set-up of fresh JVMs, runs one workload as a closed loop for
`--seconds` (and at least the workload's MIN_PASSES timed passes), checks
every output, and prints one metric per line followed by a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics and writes the span tree. Full results, run metadata and traces
go to `.bench_build/perfbench/results/`.

`python3 perfbench/run.py --record` re-records the fingerprints the query
outputs are checked against (only after a deliberate change of output).
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
BASELINE = os.path.join(HERE, "baseline.json")
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")

sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("cartogram", "lakehouse")
# Cartogram: more than 2000 regions, so Dorling takes its distributed
# per-iteration path.
LATTICE = 46
DORLING_ITERS = 1
# Timed passes a run makes at least, whatever --seconds says: three
# cartogram passes take about as long as one lakehouse pass.
MIN_PASSES = {"cartogram": 3, "lakehouse": 1}
# The lakehouse table is the same for every seed, so that the outputs can
# be checked against recorded fingerprints; the seed sets the operation
# order within each pass.
TABLE_SEED = 20240601
ORDERS = 2000
SETUP_SAMPLES = 2
HEAP = "3g"
RUN_LIMIT_S = 165.0  # per run, after the build
# JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]

E2E_UNITS = {"wall_s": "s", "setup_s": "s"}
LAYER_UNITS = {
    "queries.build_s": "s", "spark.action_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.busy_s": "s",
    "spark.slot_idle_frac": "ratio", "spark.no_job_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.output_mb": "MB", "spark.task_gc_s": "s",
    "spark.failed_tasks": "count", "jvm.gc_s": "s", "jvm.cpu_s": "s", "jvm.jit_s": "s",
    "jvm.peak_rss_mb": "MB", "sources.ingest_s": "s", "operators.borders_s": "s",
    "operators.borders_pairs": "count", "operators.noncontiguous_s": "s",
    "operators.dorling_s": "s", "operators.dorling_iter_s": "s",
    "trace.wall_s": "s", "inputs.gen_s": "s",
}


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and perfbench/src with sbt unless this source state is built."""
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"),
           "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"]
    t0 = time.perf_counter()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
        out.write(r.stdout)
    cps = [l for l in r.stdout.splitlines() if l.startswith(os.path.join(HERE, "target"))]
    if r.returncode != 0 or not cps:
        raise RuntimeError("build failed; see %s" % os.path.join(WORK, "build.log"))
    cp = cps[-1].strip()
    make_class_archive(cp)
    log("built in %.1f s" % (time.perf_counter() - t0))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def make_class_archive(cp):
    """Dump the classes a set-up loads into a class-data archive (AppCDS),
    so every benchmark JVM maps them instead of loading and verifying
    them one by one. The program's own classes load later and stay out."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with RunDir("archive") as run_dir, open(os.path.join(WORK, "archive.log"), "w") as err:
        with Jvm(cp, run_dir, ["--cores", str(cores()), "--mode", "setup"],
                 time.monotonic() + 300, err, ["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE]) as j:
            j.finish()


def make_inputs(workload, seed, data_dir):
    t0 = time.perf_counter()
    if workload == "cartogram":
        sizes = gen.write_cartogram(seed, LATTICE, os.path.join(data_dir, "regions.geojson"),
                                    os.path.join(data_dir, "attributes.csv"))
        sizes["dorling_iterations"] = DORLING_ITERS
    else:
        gen.write_orders(TABLE_SEED, ORDERS, ORDERS // 10, os.path.join(data_dir, "orders.parquet"))
        sizes = {"orders_rows": ORDERS, "table_seed": TABLE_SEED}
    return sizes, time.perf_counter() - t0


def snapshot(d):
    return {os.path.relpath(os.path.join(r, f), d): (os.path.getsize(os.path.join(r, f)),
                                                     os.path.getmtime(os.path.join(r, f)))
            for r, _, fs in os.walk(d) for f in fs}


class Jvm:
    """One benchmark JVM; `ready_s` is launch -> session built and warmed."""

    def __init__(self, cp, run_dir, args, deadline, stderr, jvm_flags=None):
        if jvm_flags is None:
            jvm_flags = (["-XX:SharedArchiveFile=" + CDS_ARCHIVE]
                         if os.path.exists(CDS_ARCHIVE) else [])
        cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
               if os.environ.get("JAVA_HOME") else "java", *jvm_flags,
               "-Xmx" + HEAP, *ADD_OPENS, "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
               "-cp", cp, "perfbench.Main",
               "--local-dir", os.path.join(run_dir, "local"), *args]
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                     stderr=stderr, text=True)
        self.timer = threading.Timer(max(1.0, deadline - time.monotonic()), self.proc.kill)
        self.timer.start()
        self.ready_s = None
        for line in self.proc.stdout:
            if line.strip() == "READY":
                self.ready_s = time.perf_counter() - t0
                break

    def finish(self):
        self.proc.stdout.read()
        code = self.proc.wait()
        self.timer.cancel()
        if code != 0 or self.ready_s is None:
            raise RuntimeError("benchmark JVM exited with code %s" % code)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.timer.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class RunDir:
    """A fresh working directory (tmpdir, Spark local dir, inputs) that is
    removed on exit, whatever happens."""

    def __init__(self, name):
        self.path = os.path.join(WORK, name)

    def __enter__(self):
        shutil.rmtree(self.path, ignore_errors=True)
        for d in ("tmp", "local", "inputs"):
            os.makedirs(os.path.join(self.path, d))
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def cores():
    return min(len(os.sched_getaffinity(0)), 4)


def workload_args(workload, seed, data_dir):
    return ["--cores", str(cores()), "--workload", workload, "--seed", str(seed),
            "--data", data_dir, "--fingerprints", FINGERPRINTS,
            "--lattice", str(LATTICE), "--dorling-iters", str(DORLING_ITERS),
            "--min-passes", str(MIN_PASSES[workload])]


def run(a, cp, stamp):
    deadline = time.monotonic() + RUN_LIMIT_S
    load0 = os.getloadavg()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    trace_file = os.path.join(results, "trace-" + tag + ".json")
    with RunDir("run-%d" % os.getpid()) as run_dir, \
            open(os.path.join(results, "jvm-" + tag + ".log"), "w") as err:
        data_dir, out_file = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "result.json")
        sizes, gen_s = make_inputs(a.workload, a.seed, data_dir)
        before = snapshot(data_dir)
        setups = []
        # set-up is reported by untraced runs only
        for _ in range(0 if a.trace else SETUP_SAMPLES - 1):
            with Jvm(cp, run_dir, ["--cores", str(cores()), "--mode", "setup"], deadline, err) as j:
                j.finish()
            setups.append(j.ready_s)
        with Jvm(cp, run_dir, workload_args(a.workload, a.seed, data_dir) + [
                "--mode", "run", "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", out_file, "--trace-out", trace_file], deadline, err) as j:
            j.finish()
        setups.append(j.ready_s)
        with open(out_file) as f:
            res = json.load(f)
        if snapshot(data_dir) != before:
            res["failed"] += 1
            res["failures"].append("inputs were modified during the run")

    for f in res["failures"]:
        log("FAILED " + f)
    if a.trace:
        layer = dict(res["per_layer"], **{"inputs.gen_s": gen_s})
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        e2e = dict(res["end_to_end"], setup_s=statistics.median(setups))
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    for name, ops in sorted(res["per_op"].items()):
        for part in ("build_s", "action_s"):
            print("metric op.%s.%s %r s" % (name, part, ops[part]))
    for name, m in metrics.items():
        print("metric %s %r %s" % (name, m["value"], m["unit"]))

    with open(BASELINE) as f:
        baseline_cores = json.load(f)["cores"]
    meta = {
        "nproc": os.cpu_count(), "cores_used": cores(), "load_avg_start": load0,
        "load_avg_end": os.getloadavg(), "source_sha256": stamp, "git_commit": git_commit(),
        "java_version": res["java_version"], "spark_version": res["spark_version"],
        "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "inputs": sizes,
        "inputs_gen_s": gen_s, "setup_samples_s": setups,
        "comparable_to_baseline": cores() == baseline_cores,
    }
    if cores() != baseline_cores:
        log("WARNING: %d cores used, the baseline was taken at %d: not comparable"
            % (cores(), baseline_cores))
    final = {"correct": res["failed"] == 0, "attempted": res["attempted"],
             "failed": res["failed"], "metrics": metrics}
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"meta": meta, "result": res, "final": final}, f, indent=1, sort_keys=True)
    print(json.dumps(final, separators=(",", ":")))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def record(cp):
    """Run each query workload in record mode with three operation orders
    and write the fingerprints; outputs that differ between the runs are
    kept as row-count-and-schema-only checks."""
    out = {"table_seed": TABLE_SEED, "orders_rows": ORDERS, "queries": {}}
    for workload in ("lakehouse",):
        seen = []
        for seed in (1, 2, 3):
            with RunDir("record") as run_dir:
                data_dir, out_file = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "fp.json")
                make_inputs(workload, seed, data_dir)
                with Jvm(cp, run_dir, workload_args(workload, seed, data_dir) + [
                        "--mode", "record", "--out", out_file], time.monotonic() + 900,
                        sys.stderr) as j:
                    j.finish()
                with open(out_file) as f:
                    seen.append(json.load(f))
        for name, fp in seen[0].items():
            runs = [s[name] for s in seen]
            if any((x["rows"], x["schema"]) != (fp["rows"], fp["schema"]) for x in runs):
                raise RuntimeError("%s: row count or schema differs between runs" % name)
            exact = all((x["hsum"], x["hxor"]) == (fp["hsum"], fp["hxor"]) for x in runs)
            out["queries"][name] = dict(fp, exact=exact)
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log("wrote %s; row-count-only: %s" % (FINGERPRINTS, sorted(
        n for n, q in out["queries"].items() if not q["exact"])))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if not a.record and a.workload is None:
        p.error("--workload is required")
    if not os.path.isdir(PROGRAM_SRC):
        log("no program sources at %s; run from the root of a full checkout" % PROGRAM_SRC)
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    try:
        cp, stamp = build()
        if a.record:
            record(cp)
        else:
            run(a, cp, stamp)
    except Exception as e:  # no result line on failure
        log("error: %s" % e)
        sys.exit(1)


if __name__ == "__main__":
    main()
