"""Medallion pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a fresh JVM, and prints every metric by name with its unit.
The last stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). The exit code is 0 only when every answer was correct.

Options beyond the four above:
    --out FILE    append this run's record (workload, seed, trace, load
                  average, result, and the ungated figures such as wall-clock
                  batch latency) as one JSON line to FILE, for compare.py
    --spans FILE  with --trace 1, write the run's spans to FILE as JSON

Everything the run writes stays under `.bench_build/` in the checkout, and
its work directory is removed at the end.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_cow", "cdc_mor")
# Spark 4 on JDK 17 needs these outside spark-submit; the same list the
# repository's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# C1 only: see "Fixed run configuration" in README.md
JVM_FLAGS = ["-Xmx2g", "-Xms2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
             "-Duser.timezone=UTC"]
RUN_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--out")
    p.add_argument("--spans")
    a = p.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    root = build.ROOT
    work = root / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
           + JVM_FLAGS + [f"-Djava.io.tmpdir={work / 'tmp'}",
                          "-cp", build.classpath(classes), "perfbench.MedallionBench",
                          "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", str(work)])
    if a.spans and a.trace:
        cmd += ["--trace-out", str(Path(a.spans).resolve())]

    load_before = os.getloadavg()
    t0 = time.time()
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, _ = proc.communicate()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    info = {}
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_INFO "):
            info = json.loads(line[len("PERFBENCH_INFO "):])
        else:
            print(line)

    load_after = os.getloadavg()
    print(f"loadavg before {load_before[0]:.2f} {load_before[1]:.2f} "
          f"after {load_after[0]:.2f} {load_after[1]:.2f}; "
          f"wall {time.time() - t0:.1f} s; cpus {os.cpu_count()}")
    if proc.returncode != 0 or result is None:
        print(f"[perfbench] run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                "trace": a.trace, "loadavg": load_before[0],
                                "result": result, "info": info}) + "\n")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
