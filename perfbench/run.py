#!/usr/bin/env python3
"""Benchmark of the GPS blind-zone pipeline and the query suite.

    python3 perfbench/run.py --workload fleet_dense --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the program from source on first use
(see build.py), runs one JVM for the workload with its own scratch
directory under `.bench_build/`, checks the outputs, and prints one JSON
line last on stdout: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`). Everything else goes to stderr. See README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
from build import build  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
# layers each workload exercises; the others report 0
LAYERS = {
    "fleet_dense": ("sources.", "pattern.", "cluster.", "grade.", "core."),
    "suite_small": ("queries.",),
}
ALWAYS = ("trace.", "machine.")
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def heap():
    """The heap the test run uses: half the machine's memory, 2-8 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return f"{min(8, max(2, kb // 2097152))}g"


def oracle_check(names, dump, timeout):
    """Compares the dumped stride with the DuckDB oracle using
    tools/check.py; returns the names that failed or were not dumped."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), DATA, dump],
                       capture_output=True, text=True, timeout=timeout)
    sys.stderr.write(p.stdout + p.stderr)
    failed = set(re.findall(r"^\s+FAIL (\S+?):", p.stdout, re.M))
    if not re.search(r"^== PASS \d+ / FAIL \d+", p.stdout, re.M):
        return set(names)
    dumped = {d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d))}
    return failed | (set(names) - dumped)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an error: the JVM is killed and reaped, and the
    # scratch directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    classes, classpath = build(ROOT)

    # a run must end within 180 s of its start, building aside
    deadline = time.monotonic() + 170
    run = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    try:
        out = os.path.join(run, "result.json")
        cpus = len(os.sched_getaffinity(0))
        mem = heap()
        cmd = (["java"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g",
                  "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/tmp",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", classpath, "perfbench.Harness",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cpus", str(cpus), "--work", run, "--data", DATA,
                  # output digests of earlier runs of this same build
                  "--state", classes + "-digests", "--out", out])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "tmp"))
        subprocess.run(cmd, check=True, stdout=sys.stderr, cwd=run, env=env,
                       timeout=deadline - 20 - time.monotonic())
        with open(out) as f:
            res = json.load(f)
        sys.stderr.write(json.dumps(res) + "\n")
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "suite_small":
            bad = oracle_check(res["queries"], os.path.join(run, "dump"),
                               deadline - time.monotonic())
            attempted += len(res["queries"])
            failed += len(bad)
        values = dict(res["metrics"], success_rate=1.0 - failed / attempted)
        metrics = {}
        for m in wanted:
            name = m["name"]
            exercised = name.startswith(LAYERS[a.workload] + ALWAYS) or not a.trace
            v = values.get(name)
            if v is None and not exercised:
                v = 0.0
            if v is None:
                raise SystemExit(f"metric {name} was not measured")
            metrics[name] = {"value": v, "unit": m["unit"]}
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
