#!/usr/bin/env python3
"""The benchmark's own smoke test: scale factor 0.001, the fewest passes.

    python3 perfbench/selftest.py

It first checks that the add-up check of the trace analysis fails on a
synthetic trace whose stage time lies outside its operation. Then, for each
workload, it checks that a traced run prints every end-to-end and every
per-layer metric by name with its unit, that its trace file parses and that
each operation's parts add up to its wall time within 10%; and that a run
with an injected wrong result counts it in `failed` and exits non-zero.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
INJECT = {"etl_batch": "q1_agg", "table_lifecycle": "table"}
sys.path.insert(0, str(BENCH))

import layers  # noqa: E402


def attribution_problems():
    """The add-up check on a synthetic trace: one 100 ms operation, first
    with a stage inside it, then with its stage running 50 ms past its end,
    then with an untagged stage inside it. Only the first may pass."""
    def stage(op, a_ms, b_ms):
        return {"stage": 0, "attempt": 0, "op": op, "submit": a_ms, "complete": b_ms,
                "input_bytes": 1, "input_rows": 1, "output_bytes": 0, "output_rows": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                "gc_ms": 0, "run_ms": b_ms - a_ms, "failed_tasks": 0, "task_ms": [b_ms - a_ms]}
    root = {"id": 0, "parent": -1, "op": 7, "name": "q", "layer": "op",
            "start": 0, "end": 100_000_000}
    ops = [{"id": 7, "pass": 2, "wall_s": 0.1}]
    passes = [{"pass": 2, "traced": True, "wall_s": 0.1}]
    problems = []
    for label, stages, should_pass in (("inside", [stage(7, 10, 60)], True),
                                       ("spilled", [stage(7, 10, 150)], False),
                                       ("foreign", [stage(7, 10, 30), stage(-1, 40, 80)], False)):
        trace = {"clock": {"epoch_ms": 0, "nano": 0}, "spans": [root], "stages": stages,
                 "jobs": [], "cores": 4}
        err = layers.analyze(trace, ops, passes)["trace.sum_max_rel_err"]
        if (err <= 0.1) != should_pass:
            problems.append(f"attribution check on a {label} stage: error {err:.3f}")
    return problems


def run(workload, trace, inject=None):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.001"]
    if inject:
        cmd += ["--inject-wrong", inject]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]), p.stderr


def main():
    problems = attribution_problems()
    for w in SPEC["workloads"]:
        name = w["name"]
        rc, lines, out, err = run(name, trace=1)
        printed = {tuple(ln.split()[1::2]) for ln in lines if ln.startswith(("metric ", "layer "))}
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            if (m["name"], m["unit"]) not in printed:
                problems.append(f"{name}: {m['name']} [{m['unit']}] not printed")
        if rc != 0 or out["failed"] or not out["correct"]:
            problems.append(f"{name}: clean run failed (rc={rc}): {err[-2000:]}")
        if set(out["metrics"]) != {m["name"] for m in SPEC["per_layer"]}:
            problems.append(f"{name}: traced metrics differ from BENCHMARK.json per_layer")
        trace = json.loads((BENCH / ".work/run/measure/trace.json").read_text())
        if not trace["spans"] or not trace["stages"]:
            problems.append(f"{name}: trace holds no spans or stages")
        if out["metrics"].get("trace.sum_max_rel_err", {}).get("value", 1.0) > 0.1:
            problems.append(f"{name}: operation parts do not add up to wall time")

        rc, lines, out, _ = run(name, trace=0, inject=INJECT[name])
        ratio = [float(ln.split()[2]) for ln in lines if ln.startswith("metric op_fail_ratio ")]
        if rc == 0 or out["failed"] < 1 or not ratio or ratio[0] <= 0:
            problems.append(f"{name}: injected wrong result not counted (rc={rc}, {out})")
        print(f"{name}: checked", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
