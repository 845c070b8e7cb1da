#!/usr/bin/env python3
"""graft benchmark: run one workload with a seed, print one JSON result line.

    python3 perfbench/run.py --workload feature_refresh --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program and the benchmark on
first use (see build.py), then runs perfbench.Main in one JVM on
local[min(cores, 4)]. With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 the per-layer metrics. Each run also
writes a record (and, traced, a span log) under .perfbench_results/.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("feature_refresh", "text_curation")
TIMEOUT_S = 170
HEAP = "4g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def declared_metrics(trace: bool):
    spec = build.ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    key = "per_layer" if trace else "end_to_end"
    return {m["name"] for m in json.loads(spec.read_text())[key]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    root = build.ROOT
    work = root / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = root / ".perfbench_results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out)])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if result is None:
        sys.stderr.write(stdout)
        print(f"perfbench: no result line (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 1
    want = declared_metrics(a.trace == 1)
    if want is not None and set(result["metrics"]) != want:
        print("perfbench: metrics differ from BENCHMARK.json: "
              f"missing {sorted(want - set(result['metrics']))}, "
              f"extra {sorted(set(result['metrics']) - want)}", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
