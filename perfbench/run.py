#!/usr/bin/env python3
"""Query-mix benchmark for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Each run builds the engine from source when its sources changed
(sbt, then javac for the harness), generates the workload's input
tables from the seed, and runs the harness in one fresh JVM: session
set-up, one cold pass over the workload's queries, then warm passes
until `--seconds` have passed (at least two). Query order in each pass
is shuffled from the seed. Every execution is checked against the DuckDB
oracle after the JVM exits. The last line of standard output is the
result: `{"correct", "attempted", "failed", "metrics"}`, with the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
The line before it is a report with the host stamp, sample counts,
failures and findings. The exit code is nonzero when any execution
failed or was wrong, or when the trace is inconsistent.

`--queries`, `--inject-wrong` and `--inject-error` exist for the
benchmark's own tests (see perfbench/tests).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers   # noqa: E402
import oracle   # noqa: E402

# The recorded workloads (BENCHMARK.json) are sized so that the
# acceptance protocol's 4 + 22 x 2 runs fit its time budget on a 4-core
# host; see README.md for why these queries and what was left out.
WORKLOADS = {
    "olap": [
        "q1_filter_count", "q2_join_topk", "q3_broadcast_join",
        "q4_nation_agg", "q5_monthly", "q6_multi_agg", "q7_top_revenue",
        "q13_shape", "q16_shape", "q21_shape",
        "semi_join", "anti_join", "percentiles"],
    "graph_iter": ["ppr_top10", "graph_components", "bfs_distances", "k_core"],
    "text_pipeline": [
        "word_count", "bigram_rel_freq", "pmi_pairs", "textrank_keywords",
        "inverted_index", "bool_and", "bool_postfix_fetch", "bm25_topk",
        "sgd_train", "sgd_apply", "sgd_ensemble_avg", "dedup_minhash",
        "dedup_jaccard", "dedup_simhash", "lsh_band_sweep",
        "tokenizer_fertility"],
}

SCALE = 0.005         # fixture scale factor of the generated tables
HEAP = "2g"           # fixed heap (-Xms = -Xmx), so the RSS high-water mark is steady
SETUPS = 3            # session set-ups per run; setup_s is their median
MIN_WARM = 2          # warm passes per run at least; pass_s is their median
JVM_TIMEOUT_S = 170

# the module opens Spark needs on JDK 17, as in the repository's build.sbt
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = ["build.sbt", *glob.glob("project/*.sbt"),
             "project/build.properties",
             *glob.glob("src/main/**/*", recursive=True),
             *glob.glob(os.path.join(HERE, "harness", "*.java"))]
    for f in sorted(set(files)):
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile the engine with its own sbt build and the harness with javac.

    Returns the classpath; skips both steps when the sources are unchanged.
    """
    out = os.path.join(work, "build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=root, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [l.strip() for l in sbt.stdout.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if sbt.returncode != 0 or not lines:
        sys.stderr.write(sbt.stdout[-4000:] + sbt.stderr[-4000:])
        fail("engine build failed", 1)
    classes = os.path.join(out, "classes")
    javac = subprocess.run(
        ["javac", "-nowarn", "-d", classes, "-cp", lines[-1],
         *sorted(glob.glob(os.path.join(HERE, "harness", "*.java")))],
        capture_output=True, text=True, timeout=300)
    if javac.returncode != 0:
        sys.stderr.write(javac.stdout + javac.stderr)
        fail("harness build failed", 1)
    classpath = classes + os.pathsep + lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


def run_harness(classpath, work, run_dir, data, queries, args, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java,
           *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Harness",
           f"data={data}", f"out={run_dir}", f"queries={','.join(queries)}",
           f"seed={args.seed}", f"seconds={args.seconds}",
           f"min-warm={MIN_WARM}",
           f"trace={args.trace}", f"cores={cores}", f"setups={SETUPS}",
           f"inject-wrong={args.inject_wrong or ''}",
           f"inject-error={args.inject_error or ''}"]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(cmd, cwd=run_dir, stdout=fh, stderr=fh,
                                  stdin=subprocess.DEVNULL,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S}s", 1)
    if proc.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {proc.returncode}", 1)
    with open(os.path.join(run_dir, "run.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", help="comma list replacing the workload's queries")
    ap.add_argument("--inject-wrong", help="negative control: corrupt this query's results")
    ap.add_argument("--inject-error", help="negative control: make this query throw")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a graft source checkout")
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    work = os.path.join(root, target, "perfbench")
    queries = args.queries.split(",") if args.queries else WORKLOADS[args.workload]
    cores = os.cpu_count()

    clock = {"start": time.monotonic()}
    classpath = build(root, work)
    clock["build"] = time.monotonic()
    data = datagen.generate(
        os.path.join(work, "data", f"scale{SCALE}-seed{args.seed}"),
        args.seed, SCALE)
    clock["inputs"] = time.monotonic()
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run = run_harness(classpath, work, run_dir, data, queries, args, cores)
        clock["harness"] = time.monotonic()
        failures, findings = oracle.check(run, data, run_dir)
        clock["check"] = time.monotonic()
    finally:
        shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    attempted = len(run["executions"])
    error_rate = len(failures) / attempted
    report = {
        "workload": args.workload,
        "stamp": {"nproc": cores, "master": f"local[{cores}]",
                  "xmx": HEAP, **run["stamp"], "fixtures": data,
                  "scale": SCALE, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace},
        "queries": len(queries),
        "error_rate": error_rate,
        "failures": failures[:50],
        "findings": findings,
        "steps_s": {k: round(clock[k] - clock[p], 3) for p, k in
                    zip(list(clock), list(clock)[1:])},
        "pass_wall_s": [round((p["end_ms"] - p["start_ms"]) / 1e3, 3)
                        for p in run["passes"]],
    }
    violations = []
    if args.trace:
        metrics, rows = layers.per_layer(run, cores, error_rate)
        violations = layers.consistency_violations(rows)
        report["consistency"] = {"queries_checked": len(rows),
                                 "violations": violations[:20]}
        units = dict(layers.PER_LAYER)
    else:
        metrics, report["samples"] = layers.end_to_end(run)
        units = dict(layers.END_TO_END)
    correct = not failures and not violations
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
