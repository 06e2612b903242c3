#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: three workloads, one command.

    python3 perfbench/run.py --workload <backfill|live|query_mix> --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine from source (sbt, offline;
once per source tree, cached under $CARGO_TARGET_DIR or .bench_build),
generates the workload's inputs from the seed, runs the harness JVM
(graft.perfbench.Main) at local[nproc], checks its outputs and prints, as
the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The lines before it list every metric
with its unit and sample count. See perfbench/README.md.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_TIMEOUT_S = 170
JVM_HEAP = "4g"
# The feed and load shapes of each workload (see README.md for why).
BACKFILL = dict(hours=64, users=1500, events_per_hour=139, report_sessions=60)
LIVE = dict(period_ms=133, rows_per_file=12, threads=180, start_msgs=16, max_msgs=32,
            warm_files=32)
QUERY_SCALE = 0.1  # times the sf0.1 row counts: the sf0.01 sizes
QUERY_DATA_SEED = 20240101  # fixed: the stored expected outputs depend on it

# The per-layer metrics each workload's traced run must report with at least
# one sample, by name prefix (README.md, "Traced run"). The others it does not
# run and reports as 0 with no sample.
LAYERS_RUN = {
    "backfill": ("streaming.", "state.", "diff.", "sources."),
    "live": ("streaming.", "live.", "state.", "diff."),
    "query_mix": ("query.",),
}
EVERY_RUN = ("peak_rss_mb", "host.steal_pct", "trace.overhead_s")
# Pipeline.run folds diff batch dirs only when a drain leaves two or more, and
# live does not call it: no workload runs compaction.
NO_RUN = ("streaming.compaction_s",)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            fail(f"missing build input {os.path.relpath(r, ROOT)}: run from a full checkout")
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def find_spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return os.path.join(home, "jars")


def build(spark_jars):
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(target, "perfbench.stamp")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    os.makedirs(os.path.join(target, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g" +
        f" -Djava.io.tmpdir={target}/tmp -Dsbt.server.forcestart=false"))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.target={target}",
                        f"-Dperfbench.sparkJars={spark_jars}", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def make_inputs(workload, seed, seconds, inputs):
    t0 = time.time()
    now = int(time.time()) - 100000
    if workload == "backfill":
        m = gen.backfill_inputs(f"{inputs}/backfill", seed, t0=now, **BACKFILL)
        with open(f"{inputs}/backfill/manifest.json", "w") as f:
            json.dump(m, f)
    elif workload == "live":
        period = LIVE["period_ms"]
        # untimed first files, arriving at once as one batch: every thread's
        # first-seen checkpoint, then updates
        warm = LIVE["warm_files"]
        files = warm + int(round(seconds * 1000 / period))
        shape = dict(rows_per_file=LIVE["rows_per_file"], threads=LIVE["threads"],
                     start_msgs=LIVE["start_msgs"], max_msgs=LIVE["max_msgs"],
                     period_us=period * 1000)
        m = gen.live_inputs(f"{inputs}/live", seed, files=files, **shape)
        m.update(period_ms=period, warm_files=warm)
        with open(f"{inputs}/live/manifest.json", "w") as f:
            json.dump(m, f)
    else:
        gen.sf_tables(f"{inputs}/sf", QUERY_SCALE, QUERY_DATA_SEED)
    print(f"perfbench: inputs generated in {time.time() - t0:.1f} s", file=sys.stderr)


def runs_layer(workload, name):
    return name not in NO_RUN and (name in EVERY_RUN or name.startswith(LAYERS_RUN[workload]))


def check_shape(result, spec, workload, trace):
    """The printed result must name every declared metric of its kind, with
    the declared unit and a sample count. In a traced run, a metric of a
    layer the workload runs must have at least one sample; one of a layer it
    does not run is added as 0 if missing."""
    want = spec["per_layer"] if trace else spec["end_to_end"]
    problems = []
    for m in want:
        name = m["name"]
        got = result["metrics"].get(name)
        runs = not trace or runs_layer(workload, name)
        if got is None and not runs:
            result["metrics"][name] = {"value": 0.0, "unit": m["unit"], "n": 0}
        elif got is None:
            problems.append(f"metric {name} missing")
        elif got.get("unit") != m["unit"]:
            problems.append(f"metric {name} unit {got.get('unit')} != {m['unit']}")
        elif not isinstance(got.get("n"), int) or not isinstance(got.get("value"), (int, float)):
            problems.append(f"metric {name} lacks a value or sample count")
        elif runs and got["n"] < 1:
            problems.append(f"metric {name} of a layer {workload} runs has no samples")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "live", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    spark_jars = find_spark_jars()
    classes = build(spark_jars)

    work_root = os.path.join(ROOT, ".bench_work")
    run = os.path.join(work_root, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
    trace_out = os.path.join(work_root, "traces", f"{a.workload}-s{a.seed}.jsonl")
    try:
        make_inputs(a.workload, a.seed, a.seconds, os.path.join(run, "inputs"))
        cores = len(os.sched_getaffinity(0))
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run}/tmp"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", f"{classes}:{spark_jars}/*", "graft.perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run", run, "--cores", str(cores),
                "--expected", os.path.join(HERE, "expected_query_mix.json"),
                "--trace-out", trace_out])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                                cwd=run, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH ")]
        if proc.returncode != 0 or not lines:
            fail(f"harness exited with {proc.returncode} and no result")
        raw = json.loads(lines[-1][len("PERFBENCH "):])
    finally:
        shutil.rmtree(run, ignore_errors=True)

    problems = check_shape(raw, spec, a.workload, a.trace == 1)
    for e in raw["errors"]:
        print(f"error: {e}")
    for name, m in sorted(raw["metrics"].items()):
        print(f"metric {name} = {m['value']} {m['unit']} (n={m['n']})")
    for p in problems:
        print(f"shape: {p}")
    failed = raw["failed"] + len(problems)
    attempted = raw["attempted"] + len(problems)
    print(f"error_rate = {failed / max(1, attempted):.6f} ({failed} of {attempted} operations)")
    if problems:
        fail("result does not match BENCHMARK.json")
    kind = spec["per_layer"] if a.trace == 1 else spec["end_to_end"]
    result = {
        "correct": bool(raw["correct"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": raw["metrics"][m["name"]]["value"],
                                "unit": m["unit"]} for m in kind},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
