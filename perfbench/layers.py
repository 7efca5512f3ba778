"""Per-layer metrics from a traced run's spans and Spark stage records.

Only the Spark stages and jobs of the traced operations count: the harness
tags each operation's jobs with its id (a local property), and stages run
by the untimed checks between operations carry no tag and are left out.
Each operation's wall time is split into parts that add up to its span:

- stage time: the union of the operation's own stage intervals, clipped to
  its span, each instant shared equally between the stages running then,
  and each stage classified from its own metrics: output written means
  write (`sinks`), else input read means scan (`sources`), else
  shuffle-fed (`operators`);
- `SparkEntry.build_s` and `plans.plan_s`: time inside the catalog closure
  call and inside forcing the physical plan that no stage covers;
- `SparkEntry.driver_gap_s`: every other instant no stage covers.

What the split cannot place is reported apart and checked:
`trace.clip_loss_s` is an operation's own stage time that Spark reports
outside the operation's span (a misaligned clock map, or a stage still
running after the call returned), `trace.foreign_stage_s` is time inside an
operation's span covered by stages not tagged with it, and
`trace.sum_max_rel_err` is, over the operations, the worst of the two plus
the difference between the span and the wall time the harness timed, over
that wall time.
"""
import math
import statistics

STAGE_KINDS = ("sources", "operators", "sinks")
LAYERS = ("SparkEntry", "plans", "sources", "operators", "sinks", "pipeline",
          "sources.v2", "streaming")
V2_OPS = ("append", "merge", "update", "delete", "scan", "asof", "optimize",
          "vacuum", "fsck")
STREAMING_OPS = ("bm25_ingest", "bm25_topk", "bm25_purge", "tombstone_request",
                 "tombstone_flush")

UNITS = {"_s": "s", "_bytes": "bytes", "_rows": "rows", "_n": "count",
         "jobs": "count", "failed_tasks": "count", "stage_retries": "count",
         "data_files": "count", "log_records": "count", "rows_purged": "rows"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio"


def stage_kind(st):
    if st["output_bytes"] > 0 or st["output_rows"] > 0:
        return "sinks"
    if st["input_bytes"] > 0 or st["input_rows"] > 0:
        return "sources"
    return "operators"


def pct(values, q):
    """The q-quantile by nearest rank (0.0 for no values)."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]


def _layer_of_span(span):
    """The layer an uncovered instant inside `span` is charged to."""
    layer = span["layer"]
    if layer == "SparkEntry.build":
        return "build"
    if layer == "plans.plan":
        return "plan"
    return "gap"


def _union(intervals, lo=None, hi=None):
    """Length of the union of (a, b) intervals, optionally clipped to [lo, hi]."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if lo is not None:
            a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def analyze(trace, ops, passes):
    """Per-layer metrics of the traced passes.

    `trace` is the parsed trace file; `ops` and `passes` the run's operation
    and pass records (the traced ones are those with `traced` set).
    """
    ms0, ns0 = trace["clock"]["epoch_ms"], trace["clock"]["nano"]

    def ns(ms):
        # the middle of Spark's millisecond: the map's error is then ±0.5 ms
        return (ms - ms0) * 1_000_000 + ns0 + 500_000

    traced_ids = {p["pass"] for p in passes if p["traced"]}
    op_wall = {o["id"]: o["wall_s"] for o in ops if o["pass"] in traced_ids}
    all_stages = []
    for st in trace["stages"]:
        st = dict(st)
        st["a"], st["b"] = ns(st["submit"]), ns(max(st["complete"], st["submit"]))
        st["kind"] = stage_kind(st)
        all_stages.append(st)
    stages = [st for st in all_stages if st["op"] in op_wall]
    jobs = [j for j in trace["jobs"] if j["op"] in op_wall]
    spans = trace["spans"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    stages_of = {}
    for st in stages:
        stages_of.setdefault(st["op"], []).append(st)

    parts = {k: 0.0 for k in ("build", "plan", "gap") + STAGE_KINDS}
    worst_err = clip_loss = foreign = 0.0
    roots = [s for s in spans if s["parent"] == -1 and s["op"] in op_wall]
    for root in roots:
        a, b = root["start"], root["end"]
        inner = [s for s in by_op[root["op"]] if s["id"] != root["id"]]
        own = stages_of.get(root["op"], [])
        cuts = sorted({a, b} | {min(max(t, a), b) for st in own for t in (st["a"], st["b"])}
                      | {t for s in inner for t in (s["start"], s["end"])})
        op_parts = {k: 0.0 for k in parts}
        for lo, hi in zip(cuts, cuts[1:]):
            if hi <= lo:
                continue
            mid = (lo + hi) / 2
            active = [st for st in own if st["a"] <= mid < st["b"]]
            dt = (hi - lo) / 1e9
            if active:
                for st in active:
                    op_parts[st["kind"]] += dt / len(active)
            else:
                holder = [s for s in inner if s["start"] <= mid < s["end"]]
                innermost = max(holder, key=lambda s: s["start"]) if holder else None
                op_parts[_layer_of_span(innermost) if innermost else "gap"] += dt
        ivs = [(st["a"], st["b"]) for st in own]
        lost = (_union(ivs) - _union(ivs, a, b)) / 1e9
        other = _union([(st["a"], st["b"]) for st in all_stages if st["op"] != root["op"]],
                       a, b) / 1e9
        wall = op_wall[root["op"]]
        if wall > 0:
            off = abs((b - a) / 1e9 - wall)
            worst_err = max(worst_err, (lost + other + off) / wall)
        clip_loss += lost
        foreign += other
        for k, v in op_parts.items():
            parts[k] += v

    traced_passes = [p for p in passes if p["traced"]]
    n_pass = max(1, len(traced_passes))
    wall_total = sum(op_wall.values())
    cores = trace.get("cores", 1)
    task_ms = sum(st["run_ms"] for st in stages)
    m = {
        "SparkEntry.build_s": parts["build"] / n_pass,
        "SparkEntry.jobs": len(jobs) / n_pass,
        "SparkEntry.driver_gap_s": parts["gap"] / n_pass,
        "SparkEntry.core_busy": task_ms / 1000.0 / max(1e-9, wall_total * cores),
        "plans.plan_s": parts["plan"] / n_pass,
        "sources.scan_s": parts["sources"] / n_pass,
        "operators.stage_s": parts["operators"] / n_pass,
        "sinks.write_s": parts["sinks"] / n_pass,
        "trace.sum_max_rel_err": worst_err,
        "trace.clip_loss_s": clip_loss / n_pass,
        "trace.foreign_stage_s": foreign / n_pass,
    }
    kind_sum = lambda kind, key: sum(st[key] for st in stages if st["kind"] == kind) / n_pass
    m["sources.input_bytes"] = kind_sum("sources", "input_bytes")
    m["sources.input_rows"] = kind_sum("sources", "input_rows")
    m["sinks.output_bytes"] = kind_sum("sinks", "output_bytes")
    m["sinks.output_rows"] = kind_sum("sinks", "output_rows")
    m["operators.shuffle_read_bytes"] = sum(st["shuffle_read_bytes"] for st in stages) / n_pass
    m["operators.shuffle_write_bytes"] = sum(st["shuffle_write_bytes"] for st in stages) / n_pass
    m["operators.spill_bytes"] = sum(st["spill_bytes"] for st in stages) / n_pass
    m["operators.gc_s"] = sum(st["gc_ms"] for st in stages) / 1000.0 / n_pass
    skews = [max(st["task_ms"]) / max(1.0, statistics.median(st["task_ms"]))
             for st in stages if st["kind"] == "operators" and len(st["task_ms"]) >= 2]
    m["operators.task_skew"] = max(skews) if skews else 1.0

    def span_walls(name):
        return [(s["end"] - s["start"]) / 1e9 for s in spans
                if s["name"] == name and s["layer"] != "op"]

    for name in ("parse", "plan", "run"):
        m[f"pipeline.{name}_s"] = sum(span_walls(f"pipeline.{name}")) / n_pass
    for op in V2_OPS:
        w = span_walls(f"sources.v2.{op}")
        m[f"sources.v2.{op}_p50_s"] = statistics.median(w) if w else 0.0
        m[f"sources.v2.{op}_p90_s"] = pct(w, 0.9)
        m[f"sources.v2.{op}_n"] = float(len(w))
    for op in STREAMING_OPS:
        m[f"streaming.{op}_s"] = sum(span_walls(f"streaming.{op}")) / n_pass

    # failures and retries: a stage's by its kind, and by the layer of the
    # innermost span open when it was submitted
    fails = {layer: [0, 0] for layer in LAYERS}
    for st in stages:
        holder = [s for s in by_op[st["op"]] if s["start"] <= st["a"] < s["end"]
                  and s["layer"] != "op"]
        layer = max(holder, key=lambda s: s["start"])["layer"] if holder else None
        layer = {"SparkEntry.build": "SparkEntry", "plans.plan": "plans",
                 "exec": "SparkEntry"}.get(layer, layer)
        if layer and layer.startswith("pipeline."):
            layer = "pipeline"
        for target in {st["kind"], layer} - {None}:
            if target in fails:
                fails[target][0] += st["failed_tasks"]
                fails[target][1] += 1 if st["attempt"] > 0 else 0
    for layer, (ft, sr) in fails.items():
        m[f"{layer}.failed_tasks"] = float(ft)
        m[f"{layer}.stage_retries"] = float(sr)
    return m
