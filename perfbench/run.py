#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Builds the harness and graft from source when they changed (sbt, once per
checkout), writes the seed's input tables, then starts one fresh harness JVM
on the compiled classpath, which sets up (JVM start through the cold pass),
runs the timed passes and writes every lane's output. Outputs are checked
against DuckDB running each lane's `SparkEntry.oracleSql`
(`tools/selfcheck.py`); rows-only lanes must give the same row count and
digest on every pass.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed`, and the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). Failing lanes are named on stderr and under `failures`
in `perfbench/runs/<workload>-<seed>[-trace]/summary.json`, which a traced
run fills with its spans (`spans.jsonl`) and per-lane layer breakdown.
"""
import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no caches next to tools/selfcheck.py
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# inputs of the build: graft's sources and build, and the harness's
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness unless the sources are unchanged since
    the last build; returns (classpath, JVM options)."""
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/selfcheck.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"graft's {rel} is not in this checkout; nothing to build")
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = launch + ".stamp"
    stamp = source_stamp()
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) \
        and open(stamp_file).read() == stamp
    if not fresh:
        try:
            r = subprocess.run(["sbt", "-batch", "harness/benchLauncher"], cwd=HERE,
                               stdin=subprocess.DEVNULL, stdout=sys.stderr,
                               stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        if r.returncode != 0 or not os.path.exists(launch):
            fail(f"build failed (sbt exit {r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def run_jvm(classpath, opts, rundir, name, args):
    """One fresh harness JVM; returns its result.json."""
    out = os.path.join(rundir, name)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opts, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-cp", classpath, "perfbench.Harness",
           "--out", out, *args]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=out, stdin=subprocess.DEVNULL, stdout=log,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM '{name}' exceeded {JVM_TIMEOUT_S} s (log: {log.name})")
    path = os.path.join(out, "result.json")
    if r.returncode != 0 or not os.path.exists(path):
        tail = open(os.path.join(out, "jvm.log"), errors="replace").read()[-3000:]
        fail(f"harness JVM '{name}' exited {r.returncode}:\n{tail}")
    with open(path) as f:
        return json.load(f)


def oracle_check(data_dir, check_dir):
    """selfcheck's tally of each written lane output (its log to stderr)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck
    tally_path = os.path.join(check_dir, "tally.json")
    with contextlib.redirect_stdout(sys.stderr):
        selfcheck.main(data_dir, check_dir, tally_path)
    with open(tally_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; have {sorted(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    lanes, percentile = wl["lanes"], wl["tail_percentile"]
    # a traced run reports no tail; its every other pass is traced
    min_passes = 4 if a.trace else math.ceil(wl["tail_samples"] / len(lanes))
    cores = len(os.sched_getaffinity(0))

    classpath, opts = build()
    rundir = os.path.join(HERE, "runs", f"{a.workload}-{a.seed}" + ("-trace" if a.trace else ""))
    shutil.rmtree(rundir, ignore_errors=True)
    data = os.path.join(rundir, "data")
    gen.generate(data, a.seed)
    common = ["--data", data, "--lanes", ",".join(lanes), "--seed", str(a.seed),
              "--workload", a.workload, "--cores", str(cores)]
    result = run_jvm(classpath, opts, rundir, "main", common + [
        "--seconds", str(a.seconds), "--min-passes", str(min_passes),
        "--trace", str(a.trace)])
    tally = oracle_check(data, os.path.join(rundir, "main", "check"))
    attempted, failed, named = stats.failures(result, tally)
    for line in named:
        print(f"[perfbench] FAILED {line}", file=sys.stderr)

    summary = {"workload": a.workload, "seed": a.seed, "cores": cores,
               "lanes": lanes, "passes": len(result["passes"]),
               "failures": named}
    if a.trace:
        spans = stats.build_spans(result)
        metrics, per_lane = stats.per_layer(result, spans)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        if set(units) != set(metrics):
            fail(f"per-layer metrics differ from BENCHMARK.json: "
                 f"{sorted(set(units) ^ set(metrics))}")
        summary["per_lane"] = per_lane
        summary["setup_s"] = result["setup_s"]
        summary["wall_s_untraced"] = stats.wall_s(stats.timed_passes(result))
        with open(os.path.join(rundir, "spans.jsonl"), "w") as f:
            for sp in spans:
                f.write(json.dumps(sp) + "\n")
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        e2e = stats.end_to_end(result, tally, percentile)
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    summary["metrics"] = out
    # keep the run's record; drop the inputs and the bulky outputs
    shutil.rmtree(data, ignore_errors=True)
    for d in ("check", "tmp"):
        shutil.rmtree(os.path.join(rundir, "main", d), ignore_errors=True)
    with open(os.path.join(rundir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
