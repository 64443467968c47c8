"""Self-test of the benchmark's output format (no JVM, no build):

    python3 perfbench/selftest.py

- The `--workload all` summary line, with every end-to-end metric of every
  workload (the listed ones plus cdc_live) at its longest value, stays
  within SUMMARY_MAX_BYTES.
- Missing metrics (a workload whose passes all failed) serialise as null,
  never as NaN, and the line still parses.
- The per-layer metric names in BENCHMARK.json are the ones the Scala
  program reports (PerLayer.scala), so a traced run passes run.py's check.
"""

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def worst_case(names, metrics):
    longest = -1.2345678901234567e-300  # the longest repr a float can have
    return [(w, {"correct": False, "attempted": 2**63 - 1, "failed": 2**63 - 1,
                 "metrics": {m["name"]: {"value": longest, "unit": m["unit"]} for m in metrics}})
            for w in names]


def main():
    spec = run.spec()
    names = [w["name"] for w in spec["workloads"]] + ["cdc_live"]
    line = run.summary_line(run.combine(worst_case(names, spec["end_to_end"])))
    size = len(line.encode())
    assert size <= run.SUMMARY_MAX_BYTES, f"summary line is {size} bytes"
    parsed = json.loads(line)
    assert len(parsed["metrics"]) == len(names) * len(spec["end_to_end"])

    missing = run.combine([("cdc_live", {"correct": False, "attempted": 3, "failed": 1,
                                         "metrics": {"run_s": {"value": None, "unit": "s"}}})])
    assert json.loads(run.summary_line(missing))["metrics"]["cdc_live.run_s"]["value"] is None

    src = open(os.path.join(run.ROOT, "perfbench", "src", "perfbench", "PerLayer.scala")).read()
    quoted = set(re.findall(r'"([A-Za-z][A-Za-z0-9_.]*)"', src))
    for m in spec["per_layer"]:
        n = m["name"]
        base = re.sub(r"_(s|ms)$", "", n)
        assert n in quoted or base in quoted, f"per-layer metric {n} is not reported by PerLayer.scala"
    print(f"selftest ok: summary line {size} bytes for {len(names)} workloads "
          f"(bound {run.SUMMARY_MAX_BYTES})")


if __name__ == "__main__":
    main()
