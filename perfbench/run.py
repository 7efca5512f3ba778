#!/usr/bin/env python3
"""The repository benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload <etl_batch|table_lifecycle|all>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Each run stages seeded inputs,
sets the workload up in a fresh JVM, runs timed passes for about --seconds,
checks every output outside the timed passes, and prints one line per
metric and, last, one JSON object. With --trace 1 every second pass is
traced and it reports the per-layer metrics instead.
The exit code is non-zero when any operation failed or failed its check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
sys.path[:0] = [str(BENCH), str(ROOT / "tools")]

import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("etl_batch", "table_lifecycle")
SCALE = 0.01
HEAP = "1g"
JVM_TIMEOUT_S = 150
# the largest calibration change between the start and the end of the timed
# passes for which the run counts as measured in one rig phase
RIG_DRIFT = 1.25
# JIT tiers per workload. etl_batch's short queries keep the C2 compiler
# busy for minutes, so its timed passes would slide down a warm-up curve
# (CPU per pass halving over six passes) with two compiler threads beside
# the four task threads; C1 alone is done within the warm passes and its
# passes are as fast. table_lifecycle's driver-bound operations run about
# half again slower without C2, so it keeps the default tiers.
JIT = {"etl_batch": ["-XX:TieredStopAtLevel=1"], "table_lifecycle": []}
# Bench's calibration probe, in seconds, on the 4-core VM the benchmark was
# sized on, under each workload's JIT tiers: the rig speed the times are
# reported at
CAL_REF_S = {"etl_batch": 2.6, "table_lifecycle": 1.15}
TIMES = ("setup_s", "pass_s", "op_p50_s", "op_p90_s", "cpu_s")
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
              ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("space_amp", "ratio"))
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def check_layout():
    need = [ROOT / "src/main/scala/graft/SparkEntry.scala", ROOT / "tools/compare.py",
            BENCH / "build.sbt"]
    missing = [str(p.relative_to(ROOT)) for p in need if not p.is_file()]
    if missing:
        log(f"not a checkout of the engine (missing {', '.join(missing)})")
        sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = sorted(list((ROOT / "src/main").rglob("*")) + list((BENCH / "src").rglob("*"))
                   + [BENCH / "build.sbt", BENCH / "project/build.properties"])
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    out = WORK / "build"
    stamp, cp_file = out / "stamp", out / "classpath"
    digest = source_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        homes = [Path(d).resolve().parent for d in env.get("PATH", "").split(os.pathsep)
                 if (Path(d) / "spark-submit").is_file() and (Path(d).resolve().parent / "jars").is_dir()]
        if not homes:
            log("no Spark installation: set SPARK_HOME or put its bin/ on the PATH")
            sys.exit(3)
        env["SPARK_HOME"] = str(homes[0])
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    with open(out / "sbt.log", "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=logf, text=True, timeout=850)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cps = [ln for ln in lines if "perfbench" in ln and "target" in ln and ":" in ln
           and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        (out / "sbt.out").write_text(proc.stdout)
        log(f"build failed (rc={proc.returncode}); see {out}/sbt.out")
        sys.exit(3)
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def cores():
    return len(os.sched_getaffinity(0))


def jvm(cp, workload, data, workdir, seed, seconds, trace, inject):
    workdir.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        shutil.rmtree(d, ignore_errors=True)
    tmp.mkdir(parents=True)
    out = workdir / "result.json"
    # a metaspace that starts large enough for the session's generated
    # classes: growing it costs full collections during the first passes
    cmd = (["java", *ADD_OPENS, *JIT[workload], "-XX:+UseSerialGC", "-XX:MetaspaceSize=256m",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--data", str(data), "--work", str(workdir),
            "--out", str(out), "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)]
           + (["--inject-wrong", inject] if inject else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    with open(workdir / "jvm.log", "w") as logf:
        rc = subprocess.run(cmd, cwd=workdir, env=env, stdout=logf, stderr=logf,
                            timeout=JVM_TIMEOUT_S).returncode
    if rc != 0 or not out.is_file():
        tail = (workdir / "jvm.log").read_text(errors="replace")[-3000:]
        log(f"benchmark JVM failed (rc={rc}):\n{tail}")
        sys.exit(4)
    return json.loads(out.read_text())


def quantile(values, q):
    """The Harrell-Davis estimate of the q-quantile: the mean of all the
    order statistics, weighted by a beta density centred on q. The pooled
    latencies cluster by operation; the plain sample quantile jumps from one
    cluster to the next when two operations swap places around it, this
    estimate moves smoothly."""
    x = sorted(values)
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def density(t):
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))

    def weight(i, k=32):  # the density's mass on [i/n, (i+1)/n], Simpson's rule
        t = [(i + j / k) / n for j in range(k + 1)]
        return sum((1 if j in (0, k) else 4 if j % 2 else 2) * density(tj)
                   for j, tj in enumerate(t))

    weights = [weight(i) for i in range(n)]
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


# ---- output checks ------------------------------------------------------

def duck(data):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def same_rows(spark_df, oracle_df):
    """compare.py's canonicalization: columns by name, rows by every column."""
    import compare
    try:
        sc, sr = compare.frame_table(spark_df)
        oc, orows = compare.frame_table(oracle_df)
    except RuntimeError as e:
        return f"unsortable: {e}"
    if sc != oc:
        return f"columns {sc} != {oc}"
    if len(sr) != len(orows):
        return f"rows {len(sr)} != {len(orows)}"
    if sr != orows:
        diffs = [(a, b) for a, b in zip(sr, orows) if a != b][:2]
        return f"values differ, first: {diffs}"
    return None


def check_catalog(data, check_dir):
    """Each dumped query output against its DuckDB oracle on the same inputs."""
    import pandas as pd
    oracle = json.loads((check_dir / "oracle_sql.json").read_text())
    con = duck(data)
    bad = {}
    for name, sql in oracle.items():
        parts = sorted((check_dir / name).glob("*.parquet"))
        spark_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        err = same_rows(spark_df, con.sql(sql).df())
        if err:
            bad[name] = err
    return bad


def check_pipelines(data, out_dir):
    """The two archetype runs' sinks against DuckDB over the raw inputs."""
    import pandas as pd
    con = duck(data)
    bad = {}
    typed = {"install_time": "TIMESTAMP", "is_lat": "BOOLEAN", "cost_value": "DOUBLE"}
    cols = []
    for h in gen.AF_HEADERS:
        name = h.lower().replace(" ", "_")
        cols.append(f'TRY_CAST("{h}" AS {typed[name]}) AS {name}' if name in typed
                    else f'"{h}" AS {name}')
    csv_oracle = con.sql(f"""
        SELECT {", ".join(cols)}, 'appsflyer' AS source_
        FROM read_csv('{data}/raw/installs/*.csv', header = true, all_varchar = true)
        QUALIFY row_number() OVER (PARTITION BY "AppsFlyer ID"
          ORDER BY TRY_CAST("Install Time" AS TIMESTAMP) ASC NULLS FIRST) = 1""").df()
    # pandas turns a null of DuckDB's BOOLEAN into NaN, and Spark's into None
    csv_oracle["is_lat"] = csv_oracle["is_lat"].astype(object).where(
        csv_oracle["is_lat"].notna(), None)
    parts = sorted((out_dir / "pipeline_csv_parquet").glob("*.parquet"))
    err = same_rows(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True),
                    csv_oracle)
    if err:
        bad["pipeline_csv_parquet"] = err
    tsv = con.sql(f"""SELECT * FROM read_csv('{out_dir}/pipeline_events_tsv/*.csv',
        delim = '\t', header = true, all_varchar = true)""").df()
    tsv_oracle = con.sql("""
        SELECT CAST(event_id AS VARCHAR) AS event_id, CAST(user_id AS VARCHAR) AS user_id,
          event_type, CAST(value AS VARCHAR) AS value, 'v1' AS version_
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
          AND event_type = 'purchase'""").df()
    err = same_rows(tsv, tsv_oracle)
    if not any((out_dir / "pipeline_events_checkpoint").glob("*.parquet")):
        err = err or "no checkpoint written"
    if err:
        bad["pipeline_events_tsv"] = err
    return bad


# ---- one workload -------------------------------------------------------

def run_workload(cp, workload, seed, seconds, trace, scale, inject):
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    t0 = time.time()
    gen.stage(data, seed, scale)
    gen_s = time.time() - t0

    res = jvm(cp, workload, data, run_dir / "measure", seed, seconds, trace, inject)

    bad = {}
    if workload == "etl_batch":
        bad.update(check_catalog(data, run_dir / "measure" / "check"))
        bad.update(check_pipelines(data, run_dir / "measure" / "out"))
    for name, err in sorted(bad.items()):
        log(f"check failed: {name}: {err}")

    timed_ops = [o for o in res["ops"] if o["pass"] > 0]
    for o in timed_ops:
        if o["name"] in bad:
            o["ok"] = False
    for o in timed_ops:
        if not o["ok"]:
            log(f"failed: pass {o['pass']} {o['name']} {o['error']}")
    timed = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    timed_ids = {p["pass"] for p in timed}
    walls = [o["wall_s"] for o in timed_ops if o["pass"] in timed_ids]
    attempted = len(timed_ops)
    failed = sum(1 for o in timed_ops if not o["ok"])

    e2e = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "op_p50_s": quantile(walls, 0.5),
        "op_p90_s": quantile(walls, 0.9),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_rss_mb": res["peak_rss_mb"],
        "space_amp": res["space_amp"],
    }
    beyond = sum(1 for w in walls if w > e2e["op_p90_s"])
    cal = res["calibration"]
    # The shared VM runs at half to two-thirds speed for minutes at a time,
    # and every time moves with it. As Bench does across rounds, the times
    # are divided by the rig's speed: the calibration probe right before and
    # right after the timed passes, against the reference VM's. The times as
    # measured print as context.
    rig = (cal["start"] + cal["end"]) / 2 / CAL_REF_S[workload]
    measured = {k: e2e[k] for k in TIMES}
    for k in TIMES:
        e2e[k] = measured[k] / rig
    steady = 1 / RIG_DRIFT <= cal["end"] / cal["start"] <= RIG_DRIFT
    if not steady:
        log(f"rig speed changed during the run: calibration {cal['start']:.3f} s at the "
            f"start, {cal['end']:.3f} s at the end; its timings mix two rig phases")
    context = {
        "workload": workload, "seed": seed, "scale": scale, "nproc": cores(),
        "spark_cores": res["spark_cores"], "heap_max_mb": round(res["heap_max_mb"]),
        "calibration_start_s": cal["start"], "calibration_end_s": cal["end"],
        "rig_steady": int(steady), "rig_factor": round(rig, 6),
        **{f"measured_{k}": round(v, 6) for k, v in measured.items()},
        "gen_s": round(gen_s, 3),
        "timed_passes": len(timed), "op_samples": len(walls), "op_beyond_p90": beyond,
        "op_fail_ratio": failed / max(1, attempted),
    }
    for k, v in context.items():
        print(f"context {k} {v}")
    for name in sorted({o["name"] for o in timed_ops}):
        w = [o["wall_s"] for o in timed_ops if o["name"] == name]
        print(f"context op {name} p50={statistics.median(w):.4f} n={len(w)}")
    for name, unit in END_TO_END:
        print(f"metric {name} {e2e[name]:.6g} {unit}")
    print(f"metric op_fail_ratio {context['op_fail_ratio']:.6g} ratio")

    metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    if trace:
        tr = json.loads(Path(res["trace_file"]).read_text())
        tr["cores"] = cores()
        per_layer = layers.analyze(tr, res["ops"], res["passes"])
        per_layer.update(res.get("counters", {}))
        for k in ("sources.v2.rewrite_ratio", "sources.v2.data_files",
                  "sources.v2.log_records", "streaming.rows_purged"):
            per_layer.setdefault(k, 0.0)
        per_layer["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                         - measured["pass_s"])
        for k, v in per_layer.items():
            print(f"layer {k} {v:.6g} {layers.unit_of(k)}")
        metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in per_layer.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--inject-wrong", default=None, help=argparse.SUPPRESS)
    a = ap.parse_args()
    check_layout()
    cp = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = [run_workload(cp, w, a.seed, a.seconds, a.trace, a.scale, a.inject_wrong)
               for w in names]
    if len(results) == 1:
        out = results[0]
    else:
        out = {"correct": all(r["correct"] for r in results),
               "attempted": sum(r["attempted"] for r in results),
               "failed": sum(r["failed"] for r in results),
               "metrics": {f"{w}.{k}": v for w, r in zip(names, results)
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out))
    sys.exit(0 if out["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
