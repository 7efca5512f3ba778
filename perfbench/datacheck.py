#!/usr/bin/env python3
"""Compares the generated inputs with a reference copy of the testdata.

    python3 perfbench/datacheck.py <testdata_dir> [scale]

`<testdata_dir>` holds the engine's seed=42 testdata tables at `scale`
(default 0.01), one `<table>.parquet` each. For every table the script
prints, side by side for the reference and for `gen.base_tables(scale)`,
the row count and per-column shape statistics: distinct count, min, max,
mean, the share of the most frequent value (skew), the total variation
distance between the value shares of a column with few distinct values, and
for the text and vector columns tokens per document, vocabulary, duplicate
share and norms.
It exits non-zero when a statistic differs by more than its tolerance.
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402

REL_TOL = 0.15   # relative tolerance of counts, means and spreads
SHARE_TOL = 0.05  # absolute tolerance of shares (skew, duplicate rate)
TV_TOL = 0.15     # total variation distance of a categorical column's values
CATEGORICAL = 64  # at most this many distinct values: compared as categories


def _num(a):
    if pa.types.is_timestamp(a.type):
        a = a.cast(pa.int64())
    return np.asarray(a.to_numpy(zero_copy_only=False), dtype=np.float64)


def column_stats(name, col):
    """name -> (value, kind) where kind is 'exact', 'rel' or 'share'."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    s = {}
    n = len(col)
    s["nulls"] = (col.null_count, "exact")
    if pa.types.is_list(col.type):
        lens = np.asarray(pa.compute.list_value_length(col).to_numpy(zero_copy_only=False))
        vecs = np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)
        s["dim"] = (float(lens.max()), "exact")
        s["norm_mean"] = (float(np.linalg.norm(vecs, axis=1).mean()), "rel")
        s["component_std"] = (float(vecs.std()), "rel")
        return s
    vals = col.to_pylist()
    uniq, counts = np.unique(np.asarray([str(v) for v in vals]), return_counts=True)
    s["distinct"] = (len(uniq), "rel")
    s["top_share"] = (counts.max() / n, "share")
    if pa.types.is_string(col.type):
        if name in ("text",):
            toks = [v.split() for v in vals]
            lens = np.array([len(t) for t in toks], dtype=np.float64)
            s["tokens_mean"] = (lens.mean(), "rel")
            s["tokens_p10"] = (np.percentile(lens, 10), "rel")
            s["tokens_p90"] = (np.percentile(lens, 90), "rel")
            s["vocab"] = (len({w for t in toks for w in t}), "rel")
            s["dup_share"] = (1.0 - len(uniq) / n, "share")
            # near duplicates: the document shares its first 8 tokens with
            # an earlier one but is not identical to it
            firsts = {}
            near = 0
            for v, t in zip(vals, toks):
                k = " ".join(t[:8])
                if k in firsts and firsts[k] != v:
                    near += 1
                firsts.setdefault(k, v)
            s["near_dup_share"] = (near / n, "share")
        else:
            lens = np.array([len(v) for v in vals], dtype=np.float64)
            s["len_mean"] = (lens.mean(), "rel")
        return s
    x = _num(col)
    s["min"] = (x.min(), "rel")
    s["max"] = (x.max(), "rel")
    s["mean"] = (x.mean(), "rel")
    s["std"] = (x.std(), "rel")
    if len(uniq) > CATEGORICAL:
        # a median of a few categories flips between neighbours on noise;
        # those are compared by their value shares instead
        s["p50"] = (np.percentile(x, 50), "rel")
        s["p99"] = (np.percentile(x, 99), "rel")
    return s


def value_shares(col):
    vals, counts = np.unique(np.asarray([str(v) for v in col.to_pylist()]), return_counts=True)
    return dict(zip(vals, counts / counts.sum()))


def tv_distance(ref_col, got_col):
    a, b = value_shares(ref_col), value_shares(got_col)
    return 0.5 * sum(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in a.keys() | b.keys())


def table_stats(t):
    out = {"rows": (t.num_rows, "rel")}
    for name in t.column_names:
        for k, v in column_stats(name, t.column(name)).items():
            out[f"{name}.{k}"] = v
    # foreign-key skew: the busiest key's share of its referencing rows
    for fk in ("o_custkey", "l_orderkey", "l_partkey", "l_suppkey", "user_id"):
        if fk in t.column_names:
            _, c = np.unique(_num(t.column(fk)), return_counts=True)
            out[f"{fk}.max_per_key"] = (float(c.max()), "rel")
    return out


def differs(ref, got, kind):
    if kind == "exact":
        return ref != got
    if kind == "share":
        return abs(ref - got) > SHARE_TOL
    scale = max(abs(ref), abs(got), 1e-12)
    return abs(ref - got) / scale > REL_TOL


def main():
    ref_dir = Path(sys.argv[1])
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01
    generated = gen.base_tables(scale)
    bad = 0
    for name, table in generated.items():
        path = ref_dir / f"{name}.parquet"
        if not path.exists():
            print(f"{name}: no reference table, skipped")
            continue
        ref = pq.read_table(path)
        if ref.schema.remove_metadata() != table.schema.remove_metadata():
            print(f"{name}: SCHEMA {ref.schema.remove_metadata()} != {table.schema.remove_metadata()}")
            bad += 1
        rs, gs = table_stats(ref), table_stats(table)
        for key in rs:
            rv, kind = rs[key]
            gv = gs.get(key, (float("nan"), kind))[0]
            flag = "DIFF" if key not in gs or differs(rv, gv, kind) else "ok"
            bad += flag != "ok"
            print(f"{name:<10} {key:<32} ref={rv:<14.6g} gen={gv:<14.6g} {flag}")
        for col in ref.column_names:
            if col in table.column_names and not pa.types.is_list(ref.schema.field(col).type) \
                    and rs.get(f"{col}.distinct", (CATEGORICAL + 1,))[0] <= CATEGORICAL:
                tv = tv_distance(ref.column(col), table.column(col))
                flag = "DIFF" if tv > TV_TOL else "ok"
                bad += flag != "ok"
                print(f"{name:<10} {col + '.value_tv':<32} ref={0:<14.6g} gen={tv:<14.6g} {flag}")
    print(f"datacheck: {bad} statistics differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
