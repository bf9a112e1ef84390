"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same files, byte for byte. The program under test only ever sees these
generated inputs (parquet preload, JSON request bodies, parquet tables).
"""
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB = "bench"
INDEXES = ["click", "view", "purchase", "signup", "error"]
FIELDS = ["value", "user"]
REDUCERS = ["sum", "max", "min", "first", "last", "count", "avg"]

US = 1_000_000
HOUR_US = 3600 * US
DAY_US = 24 * HOUR_US
T0_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * US
PRELOAD_DAYS = 30
# The ingest stream resumes three hours before February: the first
# POSTs append and then upsert Jan 31 partitions, later ones open the
# February (index, ym) rollup partitions.
INGEST_T0_US = T0_US + PRELOAD_DAYS * DAY_US + 21 * HOUR_US
POINTS_PER_HOUR = 139  # 100k points over 30 days
INGEST_BATCHES = 48
STATIC_REQUESTS = 600
RECENT_PER_BATCH = 30
RECENT_HOURS = 6


def iso(us):
    """RFC3339 UTC with whole seconds (every generated bound is whole)."""
    return datetime.fromtimestamp(us // US, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _values(rng, n):
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    user = rng.integers(0, 1500, n).astype(np.float64)
    return value, user


def _unique_ts(rng, n, lo_us, hi_us):
    ts = np.unique(rng.integers(lo_us, hi_us, n))
    while len(ts) < n:
        ts = np.unique(np.concatenate([ts, rng.integers(lo_us, hi_us, n - len(ts))]))
    return np.sort(rng.permutation(ts)[:n])


def points(rng, n, lo_us, hi_us):
    ts = _unique_ts(rng, n, lo_us, hi_us)
    idx = rng.integers(0, len(INDEXES), n)
    value, user = _values(rng, n)
    return [(INDEXES[i], int(t) * 1000, float(v), float(u))
            for i, t, v, u in zip(idx, ts, value, user)]


def write_points(path, pts, batch=None):
    cols = list(zip(*pts))
    table = {
        "index": pa.array(cols[0], pa.string()),
        "ts_ns": pa.array(cols[1], pa.int64()),
        "value": pa.array(cols[2], pa.float64()),
        "user": pa.array(cols[3], pa.float64()),
    }
    if batch is not None:
        table["batch"] = pa.array(batch, pa.int32())
    pq.write_table(pa.table(table), path)


def _fields(rng):
    k = int(rng.integers(1, 3))
    names = list(rng.permutation(FIELDS)[:k])
    return {str(f): {"reducer": str(rng.choice(REDUCERS))} for f in names}


def _query(index, lo, hi, group, fields):
    q = {"index": index, "from": iso(lo), "to": iso(hi), "fields": fields}
    if group:
        q["group"] = group
    return json.dumps(q, sort_keys=True)


def rollup_query(rng, lo_us, hi_us, groups):
    """A routable query: group at minute or coarser, range aligned to the
    group's rollup unit, inside [lo_us, hi_us)."""
    group, unit_us, max_units = groups[int(rng.integers(0, len(groups)))]
    span_units = (hi_us - lo_us) // unit_us
    width = int(rng.integers(1, min(max_units, span_units) + 1))
    start = lo_us + unit_us * int(rng.integers(0, span_units - width + 1))
    return _query(str(rng.choice(INDEXES)), start, start + width * unit_us, group, _fields(rng))


def raw_query(rng, lo_us, hi_us):
    """A query the rollups cannot answer: second-level groups, grouped
    queries over unaligned ranges, or raw points over at most an hour."""
    kind = int(rng.integers(0, 3))
    index = str(rng.choice(INDEXES))
    if kind == 0:
        group, width = str(rng.choice(["second", "10seconds", "30seconds"])), 2 * HOUR_US
    elif kind == 1:
        group, width = str(rng.choice(["minute", "5minutes", "hour"])), DAY_US
    else:
        group, width = None, HOUR_US
    width = min(width, hi_us - lo_us - 2 * US)
    width = US * int(rng.integers(60, width // US + 1))
    # an odd second offset keeps the bounds off every rollup grid
    slots = max(1, (hi_us - lo_us - width) // (2 * US))
    start = lo_us + US * (2 * int(rng.integers(0, slots)) + 1)
    return _query(index, start, min(start + width, hi_us - US), group, _fields(rng))


def get_path(pt):
    return f"/{DB}/{pt[0]}/{pt[1]}"


STATIC_GROUPS = [("minute", 60 * US, 24 * 60), ("5minutes", 60 * US, 72 * 60),
                 ("hour", HOUR_US, 10 * 24), ("day", DAY_US, PRELOAD_DAYS)]
RECENT_GROUPS = [("minute", 60 * US, RECENT_HOURS * 60),
                 ("5minutes", 60 * US, RECENT_HOURS * 60), ("hour", HOUR_US, RECENT_HOURS)]


def request(key, kind, rng, lo_us, hi_us, pts, groups):
    if kind == "rollup":
        return {"key": key, "kind": kind, "method": "POST", "path": f"/{DB}/_query",
                "body": rollup_query(rng, lo_us, hi_us, groups)}
    if kind == "raw":
        return {"key": key, "kind": kind, "method": "POST", "path": f"/{DB}/_query",
                "body": raw_query(rng, lo_us, hi_us)}
    return {"key": key, "kind": "get", "method": "GET",
            "path": get_path(pts[int(rng.integers(0, len(pts)))]), "body": ""}


def tick_inputs(seed, out, n_points):
    """Preload points, the static read mix, the ingest batches and the
    read pools that become valid as each batch is acknowledged."""
    rng = np.random.default_rng([seed, 1])
    lo, hi = T0_US, T0_US + PRELOAD_DAYS * DAY_US
    pre = points(rng, n_points, lo, hi)
    write_points(os.path.join(out, "preload.parquet"), pre)

    kinds = (["rollup"] * (STATIC_REQUESTS * 2 // 5) + ["raw"] * (STATIC_REQUESTS * 2 // 5))
    kinds += ["get"] * (STATIC_REQUESTS - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    static = [request(f"s{i}", k, rng, lo, hi, pre, STATIC_GROUPS) for i, k in enumerate(kinds)]

    batches, recent, final_checks, ingested = [], [], [], []
    for b in range(INGEST_BATCHES):
        h0 = INGEST_T0_US + b * HOUR_US
        n = int(rng.poisson(POINTS_PER_HOUR))
        pts = points(rng, n, h0, h0 + HOUR_US)
        ingested.append(pts)
        batches.append(json.dumps([{"index": p[0], "time": str(p[1]),
                                    "value": {"value": p[2], "user": p[3]}} for p in pts]))
        r_lo = INGEST_T0_US + max(0, b + 1 - RECENT_HOURS) * HOUR_US
        r_hi = h0 + HOUR_US
        window = [p for bp in ingested[max(0, b + 1 - RECENT_HOURS):] for p in bp]
        recent.append([request(f"r{b}.{i}", k, rng, r_lo, r_hi, window, RECENT_GROUPS)
                       for i, k in enumerate(["rollup", "raw", "get"] * (RECENT_PER_BATCH // 3))])
        final_checks.append([rollup_query(rng, r_lo, r_hi, RECENT_GROUPS) for _ in range(2)])
    flat = [p for bp in ingested for p in bp]
    write_points(os.path.join(out, "ingest.parquet"), flat,
                 batch=[b for b, bp in enumerate(ingested) for _ in bp])
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump({"static": static, "recent": recent, "batches": batches,
                   "batch_points": [len(bp) for bp in ingested],
                   "final_checks": final_checks}, f)


# ---- analytics tables: the project's testdata schema at a small scale ----

def _ts_us(values):
    return pa.array(values, pa.timestamp("us"))


def analytics_tables(seed, out, sf=0.01):
    """region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings with the column types and value
    laws of the project's testdata (see FIXTURES.md), scaled by `sf`."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), 500, 500

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(regions)})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segments = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([segments[i] for i in rng.integers(0, 5, n_cust)])})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adjectives = ["small", "red", "blue", "green", "large", "shiny", "black"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 7, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                            for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(retail)})
    day0 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * US
    odate = day0 + rng.integers(0, 2404, n_ord) * DAY_US
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([["P", "O", "F"][i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": pa.array([priorities[i] for i in rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pkey], 2)),
        "l_discount": pa.array([round(k / 100, 2) for k in rng.integers(0, 11, n_li)]),
        "l_tax": pa.array([round(k / 100, 2) for k in rng.integers(0, 9, n_li)]),
        "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([["O", "F"][i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_us(odate[okey] + rng.integers(1, 122, n_li) * DAY_US)})
    ts = _unique_ts(rng, n_ev, T0_US, T0_US + PRELOAD_DAYS * DAY_US)
    value, _ = _values(rng, n_ev)
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": pa.array([INDEXES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(value),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)])})
    vocab = ("a the key agg row scan slow fast table value part hash merge batch spark "
             "window order data column join small line customer query big stream sort "
             "group filter vector").split()
    texts = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(8, 101))))
             for _ in range(n_doc)]
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([["en", "en", "en", "de", "es", "fr", "zh"][i]
                          for i in rng.integers(0, 7, n_doc)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
