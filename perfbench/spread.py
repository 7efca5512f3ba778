#!/usr/bin/env python3
"""Steadiness of the benchmark: seeded sets of runs and their comparison.

    python3 perfbench/spread.py run --workload etl_batch --seeds 101-110 --out a.json
    python3 perfbench/spread.py compare a.json b.json

`run` makes one benchmark run per seed (end-to-end metrics, `--trace 0`)
and writes every run's metrics and rig context to `--out`. It prints, per
end-to-end metric, the median and the interquartile range over the runs as
a share of the median (`statistics.quantiles(values, n=4)`), against the
metric's bound in BENCHMARK.json, and the runs whose calibration changed
during the run (`rig_steady 0`).

`compare` takes two such files of the same workload and prints, per
metric, both medians and how much worse the second is than the first as a
share of the first. It exits non-zero when a spread (other than `setup_s`'s)
exceeds its bound or the second median is worse by more than the bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def seeds_of(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def one_run(workload, seed, seconds):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"seed {seed}: run failed (rc={p.returncode}): {p.stderr[-2000:]}")
    context = {ln.split()[1]: ln.split()[2] for ln in lines
               if ln.startswith("context ") and len(ln.split()) == 3}
    out = json.loads(lines[-1])
    return {"seed": seed, "metrics": {k: v["value"] for k, v in out["metrics"].items()},
            "context": context, "failed": out["failed"]}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def summary(runs):
    """metric -> (median, IQR share) over the runs."""
    names = runs[0]["metrics"].keys()
    return {n: (statistics.median(r["metrics"][n] for r in runs),
                spread([r["metrics"][n] for r in runs])) for n in names}


def report(data):
    runs = data["runs"]
    unsteady = [r["seed"] for r in runs if r["context"].get("rig_steady") == "0"]
    cal = [float(r["context"]["calibration_end_s"]) for r in runs]
    print(f"{data['workload']}: {len(runs)} runs, calibration {min(cal):.2f}-{max(cal):.2f} s,"
          f" runs with a rig speed change: {unsteady or 'none'}")
    ok = True
    for name, (med, sp) in summary(runs).items():
        bound = BOUNDS[name]["bound"]
        gated = name != "setup_s"
        flag = "steady" if sp <= bound / 3 else "ok" if sp <= bound else "WIDE"
        ok &= not gated or sp <= bound
        print(f"  {name:<12} median {med:<12.6g} spread {sp:6.1%}  bound {bound:.0%}  "
              f"{flag if gated else '(not gated)'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    r.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()

    if a.cmd == "run":
        runs = []
        for seed in seeds_of(a.seeds):
            runs.append(one_run(a.workload, seed, a.seconds))
            print(f"seed {seed}: " + " ".join(f"{k}={v:.4g}" for k, v in
                                              runs[-1]["metrics"].items()), flush=True)
        data = {"workload": a.workload, "seconds": a.seconds, "runs": runs}
        Path(a.out).write_text(json.dumps(data, indent=1))
        sys.exit(0 if report(data) else 1)

    first, second = (json.loads(Path(p).read_text()) for p in (a.first, a.second))
    ok = report(first) & report(second)
    s1, s2 = summary(first["runs"]), summary(second["runs"])
    print(f"{first['workload']}: second set against the first")
    for name in s1:
        m = BOUNDS[name]
        worse = (s2[name][0] - s1[name][0]) / s1[name][0]
        if m["better"] == "higher":
            worse = -worse
        fine = worse <= m["bound"]
        ok &= fine
        print(f"  {name:<12} {s1[name][0]:<12.6g} -> {s2[name][0]:<12.6g} worse by {worse:+7.1%}"
              f"  bound {m['bound']:.0%}  {'ok' if fine else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
