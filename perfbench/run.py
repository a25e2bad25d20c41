"""Run one benchmark measurement of graft.

    python3 perfbench/run.py --workload olap|pipeline|ingest_mixed \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--seed N]

Builds graft and the benchmark from source (see build.py), runs the
benchmark process on local[nproc], prints every metric as a raw
`name value unit` line, writes the full result with its run context to
perfbench/results/, and prints as its last line one JSON object with the
keys correct, attempted, failed and metrics. The metrics are the
end-to-end metrics of BENCHMARK.json with --trace 0 and its per-layer
metrics with --trace 1. Exits non-zero, without a result, when the
checkout lacks graft's sources.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RESULTS = os.path.join(ROOT, "perfbench", "results")
DEADLINE_S = 175

def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    spec = json.load(open(spec_path))
    if not a.selftest and a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")

    jar, jars, src_digest, archive = build.build()
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = build.java_cmd(jar, jars, work, archive) + ["--seed", str(a.seed), "--work", work]
    if a.selftest:
        cmd += ["--selftest", "1"]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    log_path = os.path.join(build.OUT, "last-run.log")
    budget = max(30, DEADLINE_S - (time.time() - t_start))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                                  timeout=budget)
        out, code = proc.stdout, proc.returncode
    except subprocess.TimeoutExpired:
        fail(f"benchmark process exceeded {budget:.0f}s; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.selftest:
        sys.stdout.write(out)
        sys.exit(code)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if code != 0 or not lines:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]) + out[-2000:] + "\n")
        fail(f"benchmark process exited with {code}; log in {log_path}")
    res = json.loads(lines[-1])
    got = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} missing from the run")

    ctx = dict(res["context"], git_sha=git_sha(), source_sha256=src_digest,
               run_wall_s=round(time.time() - t_start, 3))
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"context": ctx, "correct": res["correct"], "attempted": res["attempted"],
                   "failed": res["failed"], "errors": res["errors"], "metrics": got}, fh, indent=1)
    for e in res["errors"]:
        sys.stderr.write(f"perfbench: check failed: {e}\n")
    for k, v in ctx.items():
        print(f"context.{k} {v}")
    for name, m in got.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
