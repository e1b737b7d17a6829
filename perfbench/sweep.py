"""Runs the benchmark over workloads, seeds and trace modes, prints every
metric by name with its unit, and, for more than one seed, each metric's
median and spread: the distance between the first and third quartile as a
share of the median (statistics.quantiles(values, n=4)), next to a third
of the end-to-end metric's bound.

    python3 perfbench/sweep.py                                  # all workloads, seed 1, trace 0 and 1
    python3 perfbench/sweep.py --workloads turns_stream --seeds 1-10 --trace 0

From the repository root. Appends every result line to
.bench_build/sweep.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def ints(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--seeds", default="1")
    p.add_argument("--trace", default="0,1")
    a = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    failed = False
    for w in a.workloads.split(","):
        for t in ints(a.trace):
            runs = []
            for s in ints(a.seeds):
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                     "--trace", str(t)],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = r.stdout.strip().splitlines()
                if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
                    print(f"{w} seed {s} trace {t}: failed (exit {r.returncode})")
                    failed = True
                    continue
                res = json.loads(lines[-1])
                failed |= not res["correct"]
                runs.append(res)
                with open(os.path.join(ROOT, ".bench_build", "sweep.jsonl"), "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "trace": t, **res}) + "\n")
                summary = [l for l in lines if l.startswith("perfbench: ")]
                print(f"{w} seed {s} trace {t}: correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']}")
                print("  " + (summary[-1] if summary else ""))
                for k, v in res["metrics"].items():
                    print(f"  {k:34s} {v['value']:>16.6g} {v['unit']}")
                sys.stdout.flush()
            if len(runs) > 1:
                print(f"{w} trace {t}: {'metric':30s} {'median':>14s} {'spread':>8s} {'bound/3':>8s}")
                for k in runs[0]["metrics"]:
                    vals = [r["metrics"][k]["value"] for r in runs]
                    med = statistics.median(vals)
                    q = statistics.quantiles(vals, n=4)
                    spread = (q[2] - q[0]) / med if med else 0.0
                    b = f"{bounds[k] / 3:8.4f}" if k in bounds else ""
                    print(f"  {k:34s} {med:14.6g} {spread:8.4f} {b}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
