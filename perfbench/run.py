#!/usr/bin/env python3
"""Repo benchmark: one workload under one seed.

    python3 perfbench/run.py --workload extract_bow --seed 1 --seconds 20 --trace 0

Workloads: extract_bow, extract_structured (see perfbench/interactions.json
for what each exercises and why, and why curation_iter was dropped).

Builds the engine and the harness from source (perfbench/build.py), runs
the harness JVM, and relays its output: a record line with every sample,
the traffic descriptors and the host stamp, then, as the last line, the
result object `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Exits non-zero, without a result, when the build, the
run or an output check fails. Everything it writes stays under
`.bench_build/` in the checkout.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py, the package's build file)

WORKLOADS = ["extract_bow", "extract_structured"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_timeout_s(seconds):
    """Seconds the harness JVM may take: set-up, settle jobs, checks and,
    in a traced run, the curation pass take about 100 s; the timed loops
    take about twice --seconds in all."""
    return 110 + 4 * seconds


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")

    classes = build.build()
    jars = build.spark_jars()
    work = os.path.join(build.OUT, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), "-Xmx2g", "-XX:-UsePerfData", "-Xss16m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(build.HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", build.ROOT, "--work", work]
    timeout = run_timeout_s(a.seconds)
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=timeout)
        out, code = r.stdout, r.returncode
    except subprocess.TimeoutExpired as e:
        out = e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
        code = 124
        print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = os.path.join(build.OUT, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl"), "w") as f:
        f.write(out)
    if code != 0:
        sys.stderr.write(out)
        print(f"perfbench: {a.workload} failed (exit {code})", file=sys.stderr)
        sys.exit(code if code > 0 else 1)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
