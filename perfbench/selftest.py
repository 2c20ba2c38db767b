#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

1. BENCHMARK.json and metrics.json name the same metrics with the same units.
2. A clean activation_first run reports fail_frac 0.
3. The same run with one source row dropped after the expectations were
   computed reports fail_frac > 0.
4. A registry_slice run with one query's digest perturbed reports
   fail_frac > 0.
Exits non-zero if any step does not hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, plant, seed=7):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", "1", "--trace", "0",
                          "--plant", plant], cwd=ROOT, capture_output=True, text=True,
                         timeout=900)
    if out.returncode != 0:
        sys.exit(f"{workload} --plant {plant} exited {out.returncode}: {out.stderr[-2000:]}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    frac = res["failed"] / res["attempted"]
    print(f"{workload:18} plant={plant:12} attempted={res['attempted']:3} "
          f"failed={res['failed']:3} fail_frac={frac:.3f} correct={res['correct']}")
    return frac, res["correct"]


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = json.load(open(os.path.join(HERE, "metrics.json")))
    for group in ("end_to_end", "per_layer"):
        a = {m["name"]: m["unit"] for m in bench[group]}
        b = {m["name"]: m["unit"] for m in spec[group]}
        assert a == b, f"{group}: BENCHMARK.json and metrics.json differ: {set(a) ^ set(b)}"
    print("BENCHMARK.json matches metrics.json")

    clean, ok = run("activation_first", "none")
    assert clean == 0 and ok, "a clean run must have fail_frac 0"
    dropped, ok = run("activation_first", "drop_row")
    assert dropped > clean and not ok, "a dropped source row must raise fail_frac"
    wrong, ok = run("registry_slice", "wrong_digest")
    assert wrong > 0 and not ok, "a wrong digest must raise fail_frac"
    print("selftest passed")


if __name__ == "__main__":
    main()
