"""graft benchmark: build, run one workload, print its metrics.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (cached in the build
directory, `$CARGO_TARGET_DIR` or `.bench_build`), runs one workload in a
fresh JVM with a local Spark session, checks its outputs, and prints as
the last stdout line one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). The full
detail (environment, input digest, passes, spans, failures) goes to the
artifact file named on stderr. `--workload all` runs every workload listed
in BENCHMARK.json and prints one combined line with `<workload>.<metric>`
keys.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

ROOT = build.ROOT
# Bound on the final stdout line with every end-to-end metric of every
# workload (asserted by perfbench/selftest.py).
SUMMARY_MAX_BYTES = 2000
JVM_TIMEOUT_S = 170


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def summary_line(summary):
    return json.dumps(summary, separators=(",", ":"), allow_nan=False)


def combine(per_workload):
    """One summary for several workloads: metrics keyed `<workload>.<metric>`."""
    metrics = {}
    for w, s in per_workload:
        for k, v in s["metrics"].items():
            metrics[f"{w}.{k}"] = v
    return {
        "correct": all(s["correct"] for _, s in per_workload),
        "attempted": sum(s["attempted"] for _, s in per_workload),
        "failed": sum(s["failed"] for _, s in per_workload),
        "metrics": metrics,
    }


def run_workload(classpath, workload, seed, seconds, trace):
    bdir = build.build_dir()
    work = os.path.join(bdir, "work", f"{workload}-{seed}-{os.getpid()}")
    artifacts = os.path.join(bdir, "artifacts")
    artifact = os.path.join(artifacts, f"{workload}-seed{seed}-trace{trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(artifacts, exist_ok=True)
    if os.path.exists(artifact):
        os.remove(artifact)
    cmd = build.jvm_command(classpath, f"-XX:SharedArchiveFile={build.cds_archive()}",
                            f"-Djava.io.tmpdir={work}/tmp")
    cmd += ["perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", artifact]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT, env=env,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(artifact):
        raise RuntimeError(f"{workload}: benchmark JVM "
                           f"{'timed out' if code is None else f'exited with {code}'}")
    with open(artifact) as f:
        result = json.load(f)
    print(f"[perfbench] {workload}: artifact {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    for msg in result["failures"][:20]:
        print(f"[perfbench] {workload}: {msg}", file=sys.stderr)
    return result["summary"]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    bench = spec()
    listed = [w["name"] for w in bench["workloads"]]
    names = listed if a.workload == "all" else [a.workload]
    wanted = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    try:
        results = [(w, run_workload(classpath, w, a.seed, a.seconds, a.trace)) for w in names]
    except RuntimeError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    for w, s in results:
        missing = sorted(set(wanted) - set(s["metrics"]))
        extra = sorted(set(s["metrics"]) - set(wanted))
        if missing or extra:
            print(f"[perfbench] {w}: metrics differ from BENCHMARK.json: "
                  f"missing {missing}, unlisted {extra}", file=sys.stderr)
            return 1
    summary = results[0][1] if len(results) == 1 else combine(results)
    print(summary_line(summary))
    return 0


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    sys.exit(main(sys.argv[1:]))
