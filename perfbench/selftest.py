#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py

Run from the repository root. Checks the tail-percentile rule, the span
self-time and interval-union arithmetic, and that a toy one-node DAG over
40 days of the fixture's sf0.01 orders (about six a day) whose slot sleeps
50 ms shows the sleep in `compute.exec_ms_p50` and not in
`routing.dispatch_ms_p50`. The toy does not use sf0.001: it has orders on
fewer than half of its days, and the toy's ranged input needs every day.
Exits nonzero when a check fails.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main():
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    classes, _, _ = build.build()
    data = os.path.abspath(os.path.join(build.BUILD_DIR, "data", "selftest"))
    gen.stage_orders(data, "sf0.01", seed=7, days=40)
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "runs", "selftest"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rc = subprocess.run(run.java_command(os.path.abspath(classes), "perfbench.SelfTest",
                                         [data, work, str(run.nproc())], work),
                        env=run.child_env()).returncode
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
