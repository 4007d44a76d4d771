#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <event_dag|operator_batch|route_storm>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (cached),
stages the workload's inputs from the fixture tables in perfbench/data
with the seed (cached, untimed), runs the
workload in one JVM on `local[<nproc>]`, checks its outputs, writes the
run's full artifact to `.bench_build/results/`, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics` —
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Exits nonzero when an output check fails or the run cannot
complete. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("event_dag", "operator_batch", "route_storm")
HEAP = "3g"
# event_dag: one history day, the warm-up events, and more event days than
# any timed window can use
EVENT_DAG_DAYS = 1 + 16 + 400
# event_dag stages its day window from the fixture's orders at this scale
EVENT_DAG_SCALE = "sf0.1"
# operator_batch reads the fixture at this scale, on which its digests are pinned
OPERATOR_BATCH_SCALE = "sf0.01"
# whole-run wall limit; the JVM is stopped past it
RUN_LIMIT_S = 170


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    """HEAD of the checkout when it is a git repository, else None."""
    if not os.path.exists(".git"):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def make_inputs(workload, seed):
    """Returns (data dir, seconds spent staging)."""
    t0 = time.time()
    base = os.path.join(build.BUILD_DIR, "data", workload)
    if workload == "event_dag":
        data = os.path.join(base, f"seed{seed}")
        gen.stage_orders(data, EVENT_DAG_SCALE, seed, EVENT_DAG_DAYS)
    elif workload == "operator_batch":
        data = gen.fixture(OPERATOR_BATCH_SCALE)  # read in place
    else:
        data = base  # route_storm generates its schedule in memory
        os.makedirs(data, exist_ok=True)
    return os.path.abspath(data), time.time() - t0


def java_command(classes, main, args, work):
    # the whole heap is touched before main: otherwise the first pass of
    # the young generation over fresh pages faults them in during the
    # timed window, and how much of that a run pays varies from JVM to JVM
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-Xss4m"] + build.jvm_opens() +
            [f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=" + os.path.abspath(
                 os.path.join("perfbench", "log4j2.properties")),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
             main] + args)


def child_env():
    env = dict(os.environ)
    # Spark prefers this over spark.local.dir; the run keeps its files in
    # its own directory
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def expected_metrics(trace):
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    start = time.time()
    if not os.path.exists("BENCHMARK.json"):
        raise SystemExit("perfbench: run from the repository root (no BENCHMARK.json)")
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    classes, build_s, src_hash = build.build()
    classes = os.path.abspath(classes)
    data, gen_s = make_inputs(a.workload, a.seed)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "runs", f"{tag}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_file = os.path.join(work, "outcome.json")
    cores = nproc()
    cmd = java_command(classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work,
        "--cores", str(cores), "--out", out_file], work)
    limit = max(10.0, RUN_LIMIT_S - (time.time() - start))
    proc = subprocess.Popen(cmd, env=child_env(), stdout=sys.stderr)

    def stop(reason):
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {a.workload} {reason}; stopped")

    # a terminated runner takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        rc = proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        stop(f"exceeded {limit:.0f} s")
    except KeyboardInterrupt:
        stop("interrupted")
    if rc != 0 or not os.path.exists(out_file):
        raise SystemExit(f"perfbench: {a.workload} JVM exited with {rc}")
    with open(out_file) as f:
        outcome = json.load(f)

    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    if os.path.exists(os.path.join(work, "spans.tsv")) and a.trace:
        shutil.copyfile(os.path.join(work, "spans.tsv"),
                        os.path.join(results, f"{tag}.spans.tsv"))
    shutil.rmtree(work, ignore_errors=True)

    section = outcome["per_layer" if a.trace else "end_to_end"]
    got = [(m["name"], m["unit"]) for m in section]
    want = expected_metrics(a.trace)
    if got != want:
        raise SystemExit(f"perfbench: reported metrics {got} differ from BENCHMARK.json {want}")
    artifact = dict(outcome)
    artifact.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit(), "source_sha256": src_hash, "nproc": cores, "heap": HEAP,
        "build_s": build_s, "input_gen_s": gen_s,
        "finished": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        "run_s": time.time() - start,
    })
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    for m in section:
        print(f"{m['name']:32s} {m['value']:14.4f} {m['unit']}")
    print(f"inputs {gen_s:.2f} s (not timed), build {build_s:.1f} s, "
          f"artifact {os.path.join(results, tag + '.json')}")
    print(json.dumps({
        "correct": bool(outcome["correct"]),
        "attempted": int(outcome["attempted"]),
        "failed": int(outcome["failed"]),
        "metrics": {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in section},
    }))
    sys.exit(0 if outcome["correct"] else 1)


if __name__ == "__main__":
    main()
