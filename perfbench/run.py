#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the engine and the
benchmark from the checkout's sources (perfbench/build.sbt, outputs under
.bench_build/); later runs reuse that build while the sources are unchanged.
The last line of standard output is the result object; the `context` and
`details` lines before it say what the run ran on and what it checked.

Extra modes:
    --record       query_mix only: rewrite the row counts and digests of the
                   queries listed in perfbench/expected/query_mix.tsv from
                   this tree's outputs
    --overhead     run the workload untraced and traced with the same seed
                   and print each end-to-end metric's tracing overhead
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("steam_day", "query_mix", "retrieval_serve")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BUILD, "sbt-target", "classpath.txt")
# the --add-opens arguments, written by the build from build.sbt's list
JVM_OPTS = os.path.join(BUILD, "sbt-target", "jvm-opts.txt")
STAMP = os.path.join(BUILD, "build.stamp")
# A run must end within 180 s. retrieval_serve is not in BENCHMARK.json
# (one run takes about 210 s on four cores) and runs only when asked for.
JVM_TIMEOUT_S = {"steam_day": 170, "query_mix": 170, "retrieval_serve": 600}
BUILD_TIMEOUT_S = 850

# The per-layer metrics each workload must report when traced. A gated
# metric missing from this set is a layer the workload does not reach and
# reads 0; a missing metric in this set means the tracing broke, and the run
# fails rather than report a layer as free.
RUNTIME_LAYERS = {"spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
                  "spark.shuffle_write_bytes", "spark.input_bytes", "spark.spill_bytes",
                  "driver.gap_s"}
LAYERS = {
    "steam_day": RUNTIME_LAYERS | {
        "streaming.PricePipeline.addBatch_p50_s", "streaming.PricePipeline.latestOffset_p50_s",
        "streaming.PricePipeline.walCommit_p50_s", "streaming.PricePipeline.commitOffsets_p50_s",
        "streaming.PricePipeline.queryPlanning_p50_s", "streaming.PricePipeline.jobs_per_batch",
        "streaming.PricePipeline.shuffle_bytes_per_batch",
        "sources.Writers.prices_write_p50_s", "sources.Writers.crawl_state_write_p50_s",
        "sources.Writers.prices_files",
        "streaming.Streams.monotoneDedup.state_rows", "streaming.Streams.notifyBatch.calls",
        "streaming.Streams.notify_useful_ratio",
        "domain.ModelRunner.mart_write_s", "domain.ModelRunner.jobs",
        "domain.ModelRunner.shuffle_bytes", "domain.ModelRunner.driver_gap_s",
        "quality.DataQuality.checks_s", "quality.DataQuality.jobs"},
    "query_mix": RUNTIME_LAYERS | {
        "SparkEntry.build_s", "SparkEntry.build_jobs", "SparkEntry.execute_s",
        "SparkEntry.execute_jobs", "spark.cached_bytes_before_clear"},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha1()
    roots = [ENGINE, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    """The build runs offline from the local caches. Without SBT_OPTS it uses
    the user's sbt repositories file, as the repo's own test command does;
    without SPARK_HOME it uses the first spark-submit on PATH that sits in a
    Spark distribution (one with jars/spark-core_*.jar)."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = []
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    if "sbt.offline" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] = (env["SBT_OPTS"] + " -Dsbt.offline=true").strip()
    # sbt's own scratch and global state stay in the checkout
    env["SBT_OPTS"] += (f" -XX:-UsePerfData -Djava.io.tmpdir={BUILD}/tmp"
                        f" -Dsbt.global.base={BUILD}/sbt-global")
    if "SPARK_HOME" not in env:
        homes = [os.path.dirname(os.path.realpath(d)) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if glob.glob(os.path.join(h, "jars", "spark-core_*.jar"))]
        if not homes:
            fail("SPARK_HOME is unset and no Spark distribution is on PATH")
        env["SPARK_HOME"] = homes[0]
    return env


def build():
    stamp = source_stamp()
    if all(os.path.exists(p) for p in (CLASSPATH, JVM_OPTS, STAMP)):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if r.returncode != 0 or not os.path.exists(CLASSPATH) or not os.path.exists(JVM_OPTS):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed; see {log}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def commit():
    """The checkout's commit, or "unknown" when ROOT is not a git work tree's
    top (an exported checkout inside some other repository included)."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        lines = r.stdout.split()
        if r.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown"


def run_jvm(workload, seed, seconds, trace, record=False):
    """Run the benchmark JVM once; returns (result, context, details)."""
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    with open(JVM_OPTS) as f:
        opens = f.read().split()
    cmd = ["java"] + opens + [
        "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work,
        "--cache", os.path.join(BUILD, "data"),
        "--expected", os.path.join(BENCH, "expected"),
        "--commit", commit(),
    ] + (["--record"] if record else [])
    log = os.path.join(BUILD, f"last-{workload}.log")
    try:
        with open(log, "w") as err:
            try:
                r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                                   stderr=err, text=True,
                                   timeout=JVM_TIMEOUT_S[workload])
            except subprocess.TimeoutExpired:
                fail(f"{workload} did not finish in {JVM_TIMEOUT_S[workload]} s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} exited with {r.returncode}; see {log}")
    context = details = None
    for l in lines:
        if l.startswith("context "):
            context = json.loads(l[len("context "):])
        elif l.startswith("details "):
            details = json.loads(l[len("details "):])
    return json.loads(lines[-1]), context, details


def gated(workload, result, details, trace):
    """Report exactly the metrics BENCHMARK.json names for this mode. A
    per-layer metric of a layer the workload does not reach (not in
    LAYERS[workload]) is reported as 0 and listed under
    details["not_reached"]; any other missing metric is an error."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return result
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if trace else "end_to_end"]
    have = result["metrics"]
    out, absent = {}, []
    for m in wanted:
        if m["name"] in have:
            out[m["name"]] = have[m["name"]]
        elif trace and m["name"] not in LAYERS[workload]:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
            absent.append(m["name"])
        else:
            fail(f"the {workload} run reported no {m['name']}")
    details["not_reached"] = absent
    details["other_metrics"] = {k: v for k, v in have.items() if k not in out}
    return dict(result, metrics=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"no engine sources at {ENGINE}: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    build()

    if a.overhead:
        plain, _, _ = run_jvm(a.workload, a.seed, a.seconds, 0)
        _, _, det = run_jvm(a.workload, a.seed, a.seconds, 1)
        traced = det.get("end_to_end_traced") or {}
        rows = {k: {"untraced": v["value"], "traced": traced[k]["value"],
                    "overhead": (traced[k]["value"] / v["value"] - 1)
                    if v["value"] else None, "unit": v["unit"]}
                for k, v in plain["metrics"].items() if k in traced}
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "tracing_overhead": rows}))
        return

    result, context, details = run_jvm(a.workload, a.seed, a.seconds, a.trace,
                                       record=a.record)
    if a.workload != "retrieval_serve":
        result = gated(a.workload, result, details, a.trace)
    print("context " + json.dumps(context))
    print("details " + json.dumps(details))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
