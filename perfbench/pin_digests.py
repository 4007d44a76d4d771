#!/usr/bin/env python3
"""Re-pin the `operator_batch` result digests.

    python3 perfbench/pin_digests.py

Run from the repository root, and only when the sf0.01 fixture copy or a
query's defined result changes. First proves the program's results right
on that fixture: `graft.Verify` dumps every `operator_batch`
query's result and `tools/selfcheck.py` replays the query's oracle SQL
(`SparkEntry.oracleSql`) in DuckDB over the same parquet files. Only when
every query matches does it rewrite perfbench/src/perfbench/Digests.scala
with the digests the benchmark computes.
"""
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

DIGESTS = os.path.join("perfbench", "src", "perfbench", "Digests.scala")


def queries():
    src = open(os.path.join("perfbench", "src", "perfbench", "Main.scala")).read()
    block = src[src.index("val Queries"):src.index("val all")]
    return re.findall(r'"([a-z0-9_]+)"', block)


def main():
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    classes, _, _ = build.build()
    classes = os.path.abspath(classes)
    data, _ = run.make_inputs("operator_batch", 0)
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "runs", "pin"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    names = queries()
    cores = str(run.nproc())
    env = run.child_env()
    env.update(SPARK_GRAFT_VERIFY_ONLY=",".join(names), SPARK_GRAFT_CPUS=cores)
    dump = os.path.join(work, "verify")
    subprocess.run(run.java_command(classes, "graft.Verify", [data, dump], work),
                   env=env, check=True)
    check_env = dict(os.environ, GRAFT_SELFCHECK_ONLY=",".join(names))
    subprocess.run([sys.executable, os.path.join("tools", "selfcheck.py"), data, dump],
                   env=check_env, check=True)
    out = subprocess.run(run.java_command(classes, "perfbench.PrintDigests",
                                          [data, work, cores], work),
                         env=run.child_env(), check=True, capture_output=True, text=True)
    digests = dict(line.split("\t") for line in out.stdout.splitlines() if "\t" in line)
    if sorted(digests) != sorted(names):
        raise SystemExit(f"digests missing for {sorted(set(names) - set(digests))}")
    body = ",\n".join(f'    "{q}" -> "{digests[q]}"' for q in names)
    with open(DIGESTS, "w") as f:
        f.write(f'''package perfbench

/** Result digests of the `operator_batch` queries over the sf0.01 fixture
  * in perfbench/data, pinned by perfbench/pin_digests.py after every query
  * matched its DuckDB oracle on those tables. */
object Digests {{
  val pinned: Map[String, String] = Map(
{body})
}}
''')
    shutil.rmtree(work, ignore_errors=True)
    print(f"pinned {len(digests)} digests in {DIGESTS}")


if __name__ == "__main__":
    main()
