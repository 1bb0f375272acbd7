"""Seeded input generators for the graft benchmark.

Every generator takes the workload seed and writes files only; the
library under test never sees the seed, only what lands on disk. The
same (seed, scale) always yields byte-identical files: numpy's PCG64
streams are spawned per table from one SeedSequence, and pyarrow writes
parquet with fixed options.

Three input sets:

* ``registry_tables`` -- the ten tables the registry queries read
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), in the shape of graft's test data, as one
  parquet file each. ``sf=0.1`` gives 600k lineitem rows.
* ``elt_full_landing`` -- the same star schema landed the way a file
  source delivers it: dimensions as CSV and JSON, facts as several
  parquet files per table, with a few rows the pipeline's row filters
  and schema contract must remove.
* ``elt_incremental_landing`` -- an orders base table plus a sequence
  of small batches carrying new keys, updates to existing keys (the
  share is drawn from the seed) and stale re-deliveries at or below
  the previous batch's cursor.
"""
import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

US_PER_DAY = 86_400_000_000


def _streams(seed, names):
    """One independent generator per name, stable under reordering."""
    children = np.random.SeedSequence(seed).spawn(len(names))
    return {n: np.random.Generator(np.random.PCG64(c))
            for n, c in zip(sorted(names), children)}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    """Uniform whole days in [first, last] as timestamp[us]."""
    lo = (np.datetime64(first, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)
    hi = (np.datetime64(last, "D") - np.datetime64("1970-01-01", "D")).astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * US_PER_DAY).astype("datetime64[us]")


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def sizes(sf):
    """Row counts per table at scale factor ``sf`` (sf=0.1: 600k lineitem)."""
    k = sf / 0.1
    return {
        "customer": round(15000 * k), "supplier": max(10, round(1000 * k)),
        "part": round(20000 * k), "orders": round(150000 * k),
        "lineitem": round(600000 * k), "events": round(100000 * k),
        "users": max(150, round(1500 * k)),
        "documents": max(500, round(5000 * k)), "embeddings": max(500, round(2000 * k)),
    }


def star_tables(seed, sf):
    """region..lineitem as pyarrow tables (the TPC-H-like star)."""
    n = sizes(sf)
    r = _streams(seed, ["customer", "supplier", "part", "orders", "lineitem"])
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    g = r["customer"]
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(g.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, nc)]})
    g = r["supplier"]
    ns = n["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(g.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, ns)})
    g = r["part"]
    npart = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(npart)
    part = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[g.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[g.integers(0, 6, npart)],
        "p_size": pa.array(g.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})
    g = r["orders"]
    no = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(g.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[g.integers(0, 3, no)],
        "o_totalprice": _money(g, 1000, 500000, no),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, no)]})
    g = r["lineitem"]
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(g.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(g.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, nl), pa.int32()),
        "l_quantity": g.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(g, 900, 105000, nl),
        "l_discount": g.integers(0, 11, nl) / 100,
        "l_tax": g.integers(0, 9, nl) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, nl)],
        "l_shipdate": _days(g, "1995-01-02", "2001-11-04", nl)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _events(g, n, users):
    gaps = g.exponential(1.0, n)
    span_us = 30 * US_PER_DAY
    ts = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts + np.datetime64("2024-01-01", "us").astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, n)],
        "value": np.round(g.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)]})


def _documents(g, n):
    lens = g.integers(10, 101, n)
    words = np.array(VOCAB)[g.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # near-duplicates (5%): a copy of another document plus one token;
    # exact duplicates (0.2%): a verbatim copy
    idx = g.permutation(n)
    n_near, n_exact = n // 20, max(1, n // 500)
    for j, i in zip(idx[:n_near], g.integers(0, n, n_near)):
        if i != j:
            texts[j] = texts[i] + " dup"
    for j, i in zip(idx[n_near:n_near + n_exact], g.integers(0, n, n_exact)):
        texts[j] = texts[i]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[g.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(g, n, dim=64, k=10):
    centers = g.normal(0, 1, (k, dim))
    labels = g.integers(0, k, n)
    v = centers[labels] * 0.6 + g.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def registry_tables(out_dir, seed, sf, documents=None):
    """The ten registry tables as ``<out_dir>/<name>.parquet``;
    ``documents`` overrides the document count."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    if documents:
        n["documents"] = documents
    tables = star_tables(seed, sf)
    r = _streams(seed + 1, ["events", "documents", "embeddings"])
    tables["events"] = _events(r["events"], n["events"], n["users"])
    tables["documents"] = _documents(r["documents"], n["documents"])
    tables["embeddings"] = _embeddings(r["embeddings"], n["embeddings"])
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def _write_csv(table, path):
    cols = table.column_names
    data = table.to_pydict()
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(cols)
        w.writerows(zip(*(data[c] for c in cols)))


def _write_jsonl(table, path):
    data = table.to_pydict()
    cols = table.column_names
    with open(path, "w") as f:
        for row in zip(*(data[c] for c in cols)):
            f.write(json.dumps(dict(zip(cols, row)), separators=(",", ":")) + "\n")


def _split(table, parts):
    step = -(-table.num_rows // parts)
    return [table.slice(i * step, step) for i in range(parts)]


def elt_full_landing(out_dir, seed, sf, fact_files=4):
    """Land the star schema for the full-refresh pipeline.

    dims/customer/*.csv, dims/part/*.csv, dims/supplier/*.csv,
    dims/nation/*.json, dims/region/*.json, facts/orders/*.parquet,
    facts/lineitem/*.parquet. Orders carry an extra ``o_clerk`` column
    the schema contract discards; 0.5% of lineitem rows carry a
    non-positive quantity or an unknown return flag that the row
    filters drop.
    """
    t = star_tables(seed, sf)
    g = _streams(seed + 2, ["dirty"])["dirty"]
    nl = t["lineitem"].num_rows
    bad = g.random(nl) < 0.005
    qty = np.where(bad & (g.random(nl) < 0.5), -1.0,
                   t["lineitem"].column("l_quantity").to_numpy())
    flag = np.where(bad & (qty > 0), "X", t["lineitem"].column("l_returnflag").to_numpy())
    lineitem = t["lineitem"].set_column(4, "l_quantity", pa.array(qty)) \
        .set_column(8, "l_returnflag", pa.array(flag))
    orders = t["orders"].append_column(
        "o_clerk", pa.array([f"Clerk#{c:05d}" for c in g.integers(0, 1000, t["orders"].num_rows)]))
    rows = {}
    for name, fmt in [("customer", "csv"), ("part", "csv"), ("supplier", "csv"),
                      ("nation", "json"), ("region", "json")]:
        d = os.path.join(out_dir, "dims", name)
        os.makedirs(d, exist_ok=True)
        write = _write_csv if fmt == "csv" else _write_jsonl
        write(t[name], os.path.join(d, f"{name}-0.{fmt}"))
        rows[name] = t[name].num_rows
    for name, table in [("orders", orders), ("lineitem", lineitem)]:
        d = os.path.join(out_dir, "facts", name)
        os.makedirs(d, exist_ok=True)
        for i, piece in enumerate(_split(table, fact_files)):
            _write_parquet(piece, os.path.join(d, f"{name}-{i}.parquet"))
        rows[name] = table.num_rows
    return rows


def _order_rows(g, keys, customers, updated_at):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(g.integers(0, customers, n), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[g.integers(0, 3, n)],
        "o_totalprice": _money(g, 1000, 500000, n),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-01", n),
        "o_updated_at": pa.array(updated_at, pa.timestamp("us"))})


def elt_incremental_landing(out_dir, seed, base_rows, batches, batch_rows,
                            customers):
    """Land an orders base table and ``batches`` small batches.

    base/orders.parquet holds keys [0, base_rows) with updated_at in
    2024-01-01. Batch b (batches/batch-<b>.parquet) holds ``batch_rows``
    fresh rows stamped inside hour b of 2024-01-02 -- a share of them
    (drawn once from the seed, 25%-50%) update existing keys, the rest
    are new keys -- plus 10% stale re-deliveries of batch b-1's rows
    whose cursor is at or below the previous watermark.
    Returns the update share and row counts.
    """
    g = _streams(seed, ["batches"])["batches"]
    share = float(np.round(g.uniform(0.25, 0.5), 3))
    os.makedirs(os.path.join(out_dir, "base"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    day0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    base_ts = day0 + np.sort(g.integers(0, US_PER_DAY, base_rows))
    _write_parquet(_order_rows(g, np.arange(base_rows), customers, base_ts),
                   os.path.join(out_dir, "base", "orders.parquet"))
    next_key, prev = base_rows, None
    n_upd = int(round(batch_rows * share))
    for b in range(batches):
        upd = g.choice(next_key, n_upd, replace=False)
        new = np.arange(next_key, next_key + batch_rows - n_upd)
        next_key += len(new)
        keys = np.concatenate([upd, new])
        hour0 = day0 + US_PER_DAY + b * 3_600_000_000
        ts = hour0 + 1 + np.sort(g.integers(0, 3_600_000_000 - 1, batch_rows))
        fresh = _order_rows(g, keys[g.permutation(batch_rows)], customers, ts)
        if prev is not None:
            stale = prev.take(g.choice(prev.num_rows, batch_rows // 10, replace=False))
            fresh = pa.concat_tables([fresh, stale])
        _write_parquet(fresh, os.path.join(out_dir, "batches", f"batch-{b:03d}.parquet"))
        prev = fresh.slice(0, batch_rows)
    return {"update_share": share, "base_rows": base_rows, "batches": batches,
            "batch_rows": batch_rows, "stale_rows": batch_rows // 10}
