#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload reference_etl --seed 1 --seconds 1 --trace 0

Run from the repository root. The script

1. builds the engine and the harness (`perfbench/build.sbt`) with sbt,
   unless `.bench_build/build` already holds a build of the same sources;
2. generates the workload's input tables from `--seed`;
3. starts one JVM (`perfbench.Harness`) that sets up a SparkSession, writes
   every query's answer once (the set-up pass, which also warms the JVM)
   and then runs timed passes of the workload for `--seconds`;
4. checks every answer against the DuckDB oracle;
5. prints the metrics as the last line of standard output. With
   `--trace 0` these are the end-to-end metrics, with `--trace 1` the
   per-layer metrics of the traced passes.

Everything it writes stays under `.bench_build/`. See perfbench/README.md.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# name -> (queries in pass order, input scale factor). Every run pays about
# 25 s of JVM start and cold answer pass before its first timed pass, and
# 70 runs should fit in under an hour, so each workload keeps its timed
# pass to 5-11 s (see README.md for what was left out and why).
WORKLOADS = {
    "reference_etl": ([
        "q07_unpivot_emotions", "q08_match_reverse", "q09_greedy_match",
        "q339_sqlite_roundtrip"], 0.01),
    "nightly_chain": (["q370_pipeline_delta"], 0.01),
    "corpus_ops": (["q147_prefix_jaccard", "q292_stream_full_outer"], 0.01),
}

END_TO_END = {"pass_s": "s", "setup_s": "s"}

LAYERS = {
    "SparkEntry.construct_s": "s", "SparkEntry.execute_s": "s",
    "driver.only_s": "s", "driver.plan_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.single_task_stage_s": "s",
    "exec.cpu_s": "s", "exec.run_s": "s", "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "scan.input_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB",
    "storage.cached_mb_after_pass": "MB", "tasks.failed": "count",
}
QUERY_METRICS = sorted({f"query.{q}_s" for qs, _ in WORKLOADS.values() for q in qs})
PER_LAYER = {**LAYERS, **{q: "s" for q in QUERY_METRICS},
             "failed_frac": "ratio", "rss_peak_mb": "MB", "trace.overhead_s": "s"}

# a fixed local[4] (or fewer cores, if that is all there is) keeps the
# numbers comparable between hosts with different core counts
CPUS = min(4, len(os.sched_getaffinity(0)))
JVM_HEAP = "3g"
RUN_LIMIT_S = 170     # a run must end within 180 s
PASS_LIMIT_S = 120    # no traced pass starts unless it can end by then
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    paths = ["build.sbt", "perfbench/build.sbt"]
    for top in ["project", "perfbench/project", "src/main", "perfbench/src"]:
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.relpath(os.path.join(d, f), root) for f in files]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness; return the runtime classpath."""
    out = os.path.join(root, ".bench_build", "build")
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def start_harness(classpath, run_dir, data_dir, queries, seconds, trace, spans, launch_s):
    """Start the JVM. It creates its SparkSession while the inputs are being
    generated and waits for `data_dir` to appear before the answer pass."""
    out_dir = os.path.join(run_dir, "answers")
    tmp_dir = os.path.join(run_dir, "tmp")
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp_dir}", "-cp", classpath,
            "perfbench.Harness",
            "--queries", ",".join(queries), "--data", data_dir, "--out", out_dir,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(CPUS), "--launch-ms", str(int(launch_s * 1000)),
            "--deadline-ms", str(int((launch_s + PASS_LIMIT_S) * 1000)),
            "--local-dir", os.path.join(run_dir, "spark"),
            "--result", os.path.join(run_dir, "result.json"), "--spans", spans])
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        return subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)


def wait_harness(p, run_dir, deadline):
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: harness exceeded the run time limit")
    result = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        sys.stderr.writelines(open(os.path.join(run_dir, "jvm.log")).readlines()[-40:])
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")
    return json.load(open(result))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's input scale factor")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: run from the repository root (engine sources not found)")

    classpath = build(root)
    launch_s = time.time()
    queries, scale = WORKLOADS[args.workload]
    scale = args.scale if args.scale is not None else scale
    runs = os.path.join(root, ".bench_build", "runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    spans = os.path.join(root, ".bench_build", "traces", f"{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    data_dir = os.path.join(run_dir, "inputs")
    harness = start_harness(classpath, run_dir, data_dir, queries, args.seconds,
                            args.trace == 1, spans, launch_s)

    def stop():
        if harness.poll() is None:
            harness.kill()
            harness.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    # if the benchmark itself is terminated, stop the JVM and exit at once
    signal.signal(signal.SIGTERM, lambda *_: (stop(), os._exit(143)))
    try:
        import gen_inputs
        gen_inputs.write(data_dir + ".part", args.seed, scale)
        os.rename(data_dir + ".part", data_dir)
        import oracle
        res = wait_harness(harness, run_dir, launch_s + RUN_LIMIT_S - 15)
        verdicts = oracle.check(data_dir, os.path.join(run_dir, "answers"), queries)
    finally:
        stop()

    # a query whose answer pass failed is counted once, as a failed run
    wrong = {q: e for q, e in verdicts.items() if e and q not in res["answer_failed"]}
    for q, e in wrong.items():
        log(f"WRONG ANSWER {q}: {e}")
    for e in res["errors"]:
        log(f"FAILED {e}")
    attempted = res["attempted"]
    failed = res["failed"] + len(wrong)
    passes = res["passes"]
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    log(f"{args.workload} seed={args.seed} cpus={res['cpus']} scale={scale}: "
        f"set-up {res['setup_s']:.2f} s (session {res['session_s']:.2f} s, "
        f"answer pass {sum(res['answer_pass'].values()):.2f} s); "
        f"answers checked {len(verdicts) - len(wrong)}/{len(verdicts)}")
    for i, p in enumerate(passes):
        log(f"pass {i}{' traced' if p['traced'] else ''}: {p['wall_s']:.3f} s wall, "
            f"{p['cpu_s']:.2f} s JVM CPU, {p['steal_s']:.2f} s CPU steal"
            f"{' (disturbed)' if p['disturbed'] else ''}")

    if args.trace == 0:
        # the passes the host did not disturb, else the least disturbed one
        clean = [p["wall_s"] for p in passes if not p["disturbed"]]
        least = min(passes, key=lambda p: p["steal_s"] / p["wall_s"])["wall_s"]
        metrics = {"pass_s": median(clean) if clean else least, "setup_s": res["setup_s"]}
        log(f"pass_s {metrics['pass_s']:.3f} s: median of {len(clean)} undisturbed "
            f"of {len(passes)} passes (max {max(p['wall_s'] for p in passes):.3f} s)")
        units = END_TO_END
    else:
        layers = [p["layers"] for p in passes if p["traced"]]
        metrics = {k: median([l.get(k, 0.0) for l in layers]) for k in PER_LAYER
                   if k in LAYERS or k.startswith("query.")}
        metrics["failed_frac"] = failed / attempted
        metrics["rss_peak_mb"] = res["rss_peak_mb"]
        # pass 0 is the first pass after warm-up; the overhead compares
        # the traced passes with the untraced ones between them
        traced_s = median([l["pass_s"] for l in layers])
        untraced_s = median(untraced[1:] or untraced)
        metrics["trace.overhead_s"] = traced_s - untraced_s
        units = PER_LAYER
        jobs = [l["sched.jobs"] for l in layers]
        if len(set(jobs)) > 1:
            per_query = {q: [l.get(f"jobs.{q}") for l in layers] for q in queries}
            sites = [collections.Counter(p["job_sites"]) for p in passes if p["traced"]]
            log(f"sched.jobs differs across traced passes {jobs}; per query: "
                + ", ".join(f"{q} {v}" for q, v in per_query.items() if len(set(v)) > 1)
                + f"; jobs only in the first traced pass: {dict(sites[0] - sites[-1])}, "
                f"only in the last: {dict(sites[-1] - sites[0])}")
        log(f"traced pass {traced_s:.3f} s vs untraced {untraced_s:.3f} s; "
            f"spans in {os.path.relpath(spans, root)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
