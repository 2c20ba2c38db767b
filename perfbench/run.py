#!/usr/bin/env python3
"""graft's benchmark: one workload per call, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the program and the
harness from source (sbt, offline) into target/ and perfbench/target/; later
calls reuse the build while the sources are unchanged. Everything a run
writes stays under .bench_build/ in the checkout.

Workloads (see metrics.json for every metric, its layer and what it moves):
  activation_first  the first daily Pipeline.run of a full 19-execution config
  activation_delta  the steady-state rerun of the 8 transactional destinations
                    (runnable here; not listed in BENCHMARK.json, for the run budget)
  registry_slice    a fixed slice of SparkEntry.queries rows, one or more per family

With --trace 0 the last line carries the end-to-end metrics, with --trace 1
the per-layer metrics of a separate traced run. The line before it is a
report with the workload's own names (dest_p50_s / query_p50_s, fail_frac);
the full artifact (host facts, session confs, per-execution or per-query
tables, spans) is written to .bench_build/out/.

Extra options for maintenance, not used by the benchmark contract:
  --plant drop_row|wrong_digest   plant a defect (see selftest.py)
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("activation_first", "activation_delta", "registry_slice")
JVM_TIMEOUT_S = 160  # a run must end within 180 s


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads: program, build and harness."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "/target" not in d[len(ROOT):])
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")) or "/resources/" in f:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    stamp = os.path.join(BUILD, "stamp")
    cp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                        " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    print("[perfbench] building program and harness (sbt, offline)", file=sys.stderr)
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchPrepare"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp):
        fail(f"build failed (exit {r.returncode}); see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)


def heap():
    """The tier-1 heap: half the host memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "not a git checkout"


def run_jvm(args, work):
    opts = [o for o in open(os.path.join(BUILD, "jvm_options.txt")).read().split("\n") if o]
    opts = [o for o in opts if not o.startswith("-Xmx")] + [
        "-Xmx" + heap(), "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = open(os.path.join(BUILD, "classpath.txt")).read().strip()
    cmd = ["java"] + opts + ["-cp", cp, "graftbench.BenchMain"] + args
    log = open(os.path.join(work, "harness.log"), "w")
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"harness timed out after {JVM_TIMEOUT_S}s; see {log.name}", 4)
    finally:
        log.close()
    if p.returncode != 0:
        fail(f"harness exited {p.returncode}; see {log.name}", 5)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default="none", choices=("none", "drop_row", "wrong_digest"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src/main/scala/graft"))):
        fail("the program sources (build.sbt, src/main/scala/graft) are not here", 2)
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH", 2)
    spec = json.load(open(os.path.join(HERE, "metrics.json")))

    digest = source_digest()
    build(digest)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result, "--plant", a.plant,
            "--commit", commit(), "--source-digest", digest]
    t0 = time.monotonic()
    if a.workload == "registry_slice":
        # fixed corpus: the seed does not reach it (registry_expected.tsv is pinned to it)
        corpus = os.path.join(work, "corpus")
        gen = [sys.executable, os.path.join(HERE, "gen_corpus.py"), corpus]
        args += ["--corpus", corpus, "--expected", os.path.join(HERE, "registry_expected.tsv")]
    else:
        inputs = os.path.join(work, "inputs")
        gen = [sys.executable, os.path.join(HERE, "gen_activation.py"), inputs, a.workload,
               str(a.seed)]
        args += ["--inputs", inputs]
    if subprocess.run(gen, stdin=subprocess.DEVNULL, timeout=120).returncode != 0:
        fail("input generation failed", 6)
    args += ["--pre-setup-s", str(time.monotonic() - t0)]
    run_jvm(args, work)

    res = json.load(open(result))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.copy(result, os.path.join(out_dir, f"{tag}.json"))
    spans = os.path.join(work, f"{a.workload}-spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(out_dir, f"{tag}-spans.json"))
    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in group:
        v = res["metrics"].get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["report"]}
    print(json.dumps({"report": {k: {"value": v, "unit": units.get(k, "")}
                                 for k, v in res["report"].items()}}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
