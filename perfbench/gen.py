"""Seeded input generation for the benchmark.

The row multiset of every table is fixed (generated from BASE_SEED at the
chosen scale factor, with the schema and value domains of the engine's
TPC-H-shaped testdata). The run seed only decides the row order and the file
split of each staged table, the order and split of the raw CSV the pipeline
archetype reads, and nothing else, so two seeds stage the same data laid out
differently.

    python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import datetime as dt
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

BASE_SEED = 42
FILES_PER_TABLE = 4
VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# the AppsFlyer installs export (FIXTURES.md §3): its representative
# columns under their human-readable headers; the pipeline renames each to
# the header in snake case and types `Install Time`, `Is LAT`, `Cost Value`
AF_HEADERS = [
    "Attributed Touch Type", "Attributed Touch Time", "Install Time", "Media Source",
    "Channel", "Campaign", "Campaign ID", "Ad Group", "Ad", "Ad Type", "Site ID",
    "Cost Model", "Cost Value", "Cost Currency", "Region", "Country Code", "City", "IP",
    "Operator", "Carrier", "Language", "AppsFlyer ID", "Advertising ID",
    "Customer User ID", "Platform", "Device Type", "OS Version", "App Version",
    "Attribution Lookback", "GP Referrer", "Match Type", "ATT", "Is LAT", "Keyword ID"]
AF_COUNTRIES = ["BR", "DE", "ES", "FR", "GB", "IN", "JP", "US"]
AF_CITIES = [f"City{i}" for i in range(40)]
AF_MEDIA = ["organic", "googleadwords_int", "Facebook Ads", "tiktokglobal_int", "unityads_int"]
AF_REDELIVERED = 0.05  # share of rows that re-deliver an earlier install


def _us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _days(rng, n, lo, hi):
    """Whole-day naive timestamps (µs) uniform in [lo, hi]."""
    day = 86_400_000_000
    return lo + rng.integers(0, (hi - lo) // day + 1, n) * day


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(a):
    return pa.array(a, type=pa.timestamp("us"))


def base_tables(scale):
    """The fixed row multiset of every table at `scale` (TPC-H sf units)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = max(600, int(6_000_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_users = max(10, int(15_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, _us(1995, 1, 1), _us(2001, 8, 1))),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": _money(rng, n_line, 0.0, 0.1),
        "l_tax": _money(rng, n_line, 0.0, 0.08),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, _us(1995, 1, 2), _us(2001, 11, 4)))})
    span = 30 * 86_400_000_000
    ev_ts = _us(2024, 1, 1) + ((np.arange(n_ev) + rng.uniform(0, 1, n_ev))
                               * (span / n_ev)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.uniform() < 0.05:
            # a near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())})
    t["installs_csv"] = _installs(rng, max(100, int(200_000 * scale)))
    return t


def _installs(rng, n):
    """The raw installs export: all text, blanks where the export leaves a
    field empty, about 1% unparseable install times, and a share of rows that
    re-deliver an earlier AppsFlyer ID with a later install time."""
    def pick(values, blank=0.0):
        v = rng.choice(values, n).astype(object)
        v[rng.uniform(0, 1, n) < blank] = ""
        return list(v)

    def ints(fmt, hi, blank=0.0):
        return pick(np.array([fmt.format(i) for i in range(hi)]), blank)

    secs = np.sort(rng.choice(31 * 86_400, n, replace=False)) + 1_704_067_200
    stamp = lambda x: dt.datetime.fromtimestamp(int(x), dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    install = [stamp(x) for x in secs]
    touch = [stamp(x - d) for x, d in zip(secs, rng.integers(60, 86_400, n))]
    ids = np.array([f"{x * 1000 + int(r)}-{int(h):019d}" for x, r, h in
                    zip(secs, rng.integers(0, 1000, n), rng.integers(0, 10**18, n))], dtype=object)
    again = np.flatnonzero(rng.uniform(0, 1, n) < AF_REDELIVERED)
    again = again[again > 0]
    first = (rng.uniform(0, 1, len(again)) * again).astype(int)
    ids[again] = ids[first]
    # unparseable times only on rows whose ID is delivered once, so the
    # keep-first order of every re-delivered ID is total
    bad = rng.uniform(0, 1, n) < 0.01
    bad[again] = bad[first] = False
    install = ["n/a" if b else v for b, v in zip(bad, install)]
    campaign = rng.integers(0, 40, n)
    cols = {
        "Attributed Touch Type": pick(np.array(["click", "impression"]), 0.2),
        "Attributed Touch Time": touch,
        "Install Time": install,
        "Media Source": pick(np.array(AF_MEDIA)),
        "Channel": pick(np.array(["Youtube", "Search", "Display", "Instagram"]), 0.3),
        "Campaign": [f"campaign_{c}" for c in campaign],
        "Campaign ID": [str(100_000 + c) for c in campaign],
        "Ad Group": ints("adgroup_{}", 120, 0.2),
        "Ad": ints("ad_{}", 400, 0.2),
        "Ad Type": pick(np.array(["video", "banner", "playable", "text"]), 0.2),
        "Site ID": ints("site{}", 200, 0.3),
        "Cost Model": pick(np.array(["CPI", "CPC", "CPM"]), 0.4),
        "Cost Value": [f"{v:.4f}" if v > 0.8 else "" for v in rng.uniform(0, 4, n)],
        "Cost Currency": pick(np.array(["USD", "EUR"]), 0.4),
        "Region": pick(np.array(["AS", "EU", "LATAM", "NA"])),
        "Country Code": pick(np.array(AF_COUNTRIES)),
        "City": pick(np.array(AF_CITIES), 0.05),
        "IP": [".".join(str(int(b)) for b in q) for q in rng.integers(1, 255, (n, 4))],
        "Operator": pick(np.array(["Vodafone", "Orange", "Verizon", "Jio"]), 0.3),
        "Carrier": pick(np.array(["vodafone", "orange", "verizon", "jio"]), 0.3),
        "Language": pick(np.array(["English", "Deutsch", "Français", "Español", "日本語"])),
        "AppsFlyer ID": list(ids),
        "Advertising ID": [f"{int(a):016x}-{int(b):016x}" for a, b in
                           zip(rng.integers(0, 2**62, n), rng.integers(0, 2**62, n))],
        "Customer User ID": ints("user{}", 50_000, 0.6),
        "Platform": pick(np.array(["android", "ios"])),
        "Device Type": pick(np.array(["Pixel 7", "Galaxy S23", "iPhone 14", "iPhone 12"])),
        "OS Version": pick(np.array(["12", "13", "14", "16.5", "17.1"])),
        "App Version": pick(np.array(["2.3.1", "2.4.0", "2.5.2"])),
        "Attribution Lookback": pick(np.array(["1d", "7d", "30d"]), 0.3),
        "GP Referrer": ints("utm_source=s{}", 30, 0.8),
        "Match Type": pick(np.array(["gp_referrer", "id_matching", "probabilistic"])),
        "ATT": pick(np.array(["authorized", "denied", "not_determined"]), 0.5),
        "Is LAT": pick(np.array(["true", "false"]), 0.1),
        "Keyword ID": ints("kw{}", 60, 0.9),
    }
    return pa.table({h: pa.array(cols[h], pa.string()) for h in AF_HEADERS})


def _write_csv(table, path):
    """A UTF-8 CSV with a byte-order mark, as the export writes it."""
    import io
    buf = io.BytesIO()
    pcsv.write_csv(table, buf)
    path.write_bytes(b"\xef\xbb\xbf" + buf.getvalue())


def _cuts(rng, n, files):
    """Seeded split points: equal shares jittered by up to ±25%."""
    if files <= 1 or n < 2 * files:
        return [0, n]
    w = 1.0 + rng.uniform(-0.25, 0.25, files)
    edges = np.round(np.cumsum(w) / w.sum() * n).astype(int)
    return [0] + list(edges[:-1]) + [n]


def stage(out_dir, seed, scale):
    out = Path(out_dir)
    rng = np.random.default_rng(seed)
    for name, table in base_tables(scale).items():
        perm = rng.permutation(table.num_rows)
        shuffled = table.take(pa.array(perm))
        if name == "installs_csv":
            d = out / "raw" / "installs"
            files = 2
        else:
            d = out / f"{name}.parquet"
            files = FILES_PER_TABLE if table.num_rows >= 1000 else 1
        d.mkdir(parents=True, exist_ok=True)
        cuts = _cuts(rng, table.num_rows, files)
        for i in range(len(cuts) - 1):
            part = shuffled.slice(cuts[i], cuts[i + 1] - cuts[i])
            if name == "installs_csv":
                _write_csv(part, d / f"part-{i:05d}.csv")
            else:
                pq.write_table(part, d / f"part-{i:05d}.parquet")


if __name__ == "__main__":
    stage(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
