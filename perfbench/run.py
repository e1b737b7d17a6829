"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload turns_store --seed 1 --seconds 10 --trace 0

From the repository root. Builds on first use (see build.py), then runs
perfbench.Bench in one JVM at local[<cores>]. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones (and
writes the span file under .bench_build/out). The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}

Exits non-zero, printing no result, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    t_start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    spans = os.path.join(build.BUILD, "out", f"spans-{a.workload}-{a.seed}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Bench", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--spans", spans]
    left = max(10, TIMEOUT_S - (time.time() - t_start))
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=left, cwd=ROOT)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run timed out")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        sys.exit(f"perfbench: run failed (exit {r.returncode})")
    raw = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    got = raw["metrics"]
    metrics = {}
    correct = raw["correct"]
    unused = []
    for m in wanted:
        if m["name"] in got:
            v = got[m["name"]]
        elif a.trace:
            v = 0  # a layer this workload does not call
            unused.append(m["name"])
        else:
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            v, correct = 0, False
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if unused:
        print(f"perfbench: {a.workload} does not call the layers of: {' '.join(unused)}",
              file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: {raw['summary']}")
    for name, mv in metrics.items():
        print(f"  {name:34s} {mv['value']:>16.6g} {mv['unit']}")
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
