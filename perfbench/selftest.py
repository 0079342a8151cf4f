#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.  From the repo root:

    python3 perfbench/selftest.py [workload ...]

For each workload it runs ``perfbench/run.py`` timed and traced and
asserts the output contract: the last stdout line holds exactly
``correct``, ``attempted``, ``failed`` and ``metrics``; every metric
``BENCHMARK.json`` names for that mode is emitted, finite and carries
its unit; the traced record has spans with parent links and SQL
execution ids.  Last, it runs the benchmark in a directory that holds
only ``BENCHMARK.json`` and the benchmark's files, which must fail
without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_ROWS = {"cli_scores": 600, "asof_hotkey": 4000}
SEED = 7


def run(cwd: str, workload: str, trace: int, rows: "int | None") -> "tuple[int, str]":
    with open(os.path.join(cwd, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    argv = [*command, "--workload", workload, "--seed", str(SEED),
            "--seconds", "1", "--trace", str(trace)]
    if rows:
        argv += ["--rows", str(rows)]
    proc = subprocess.run(argv, cwd=cwd, capture_output=True, text=True, timeout=180)
    if proc.returncode:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, proc.stdout


def check_result(stdout: str, declared: "list[dict]") -> dict:
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in declared}, sorted(metrics)
    for m in declared:
        got = metrics[m["name"]]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), got
        assert got["unit"] == m["unit"], (m["name"], got["unit"], m["unit"])
    return result


def check_record(workload: str) -> None:
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{SEED}-trace1.json")
    with open(path) as f:
        record = json.load(f)
    spans = {s["span_id"]: s for s in record["spans"]}
    root = [s for s in spans.values() if s["parent"] is None]
    assert len(root) == 1, "one root span"
    for s in spans.values():
        assert s["parent"] is None or s["parent"] in spans
        assert s["end"] >= s["start"]
    sink = next(s for s in spans.values() if s["name"] == "sinks.partitioned")
    assert sink["sql_execution_ids"], "the sink span caused SQL executions"
    assert record["prefixes_match_pipeline"], "trace prefixes drifted from the pipeline"
    assert set(record["self_share"]) == {"sources", "functions", "operators.asof",
                                         "operators.windows", "sinks.partitioned"}
    print(f"  plan counts {workload}: {record['plan']}")


def main(argv: "list[str]") -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run(ROOT, w, trace, TINY_ROWS[w])
            assert rc == 0, f"{w} trace={trace} exited {rc}"
            res = check_result(out, bench[key])
            print(f"ok {w} trace={trace} attempted={res['attempted']}")
        check_record(w)

    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run(bare, workloads[0], 0, None)
        assert rc != 0 and '"correct"' not in out, "a bare directory must fail"
        print(f"ok bare directory fails with exit code {rc}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
